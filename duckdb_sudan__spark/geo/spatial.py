"""Point-in-state spatial join — the geo-analytics operator users run
ON TOP of the reference's boundary functions (the extension ships
`SUDAN_Boundaries` / `SUDAN_States` geometry but no spatial predicate;
assigning point data — incident reports, sensor readings, settlements —
to admin areas is the first thing every consumer does with it).

Spark-first shape: the polygon side is tiny (18 state rings — a few KB;
real GADM level-1 is still ≤ a few MB) so it rides to every executor
inside the UDF closure, and the POINT side streams through a map-only
Arrow-batched ray cast — the canonical broadcast spatial join. No
shuffle at any scale; 100 TB of points is one scan.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_sudan__spark.geo import states as geo_states
from duckdb_sudan__spark.operators import register
from duckdb_sudan__spark.session import local_frame


def _geometry_edges(doc: dict) -> np.ndarray:
    """Flatten a GeoJSON Polygon/MultiPolygon into one (m, 4) edge array
    (x0, y0, x1, y1) spanning EVERY ring of EVERY part — outer rings
    AND holes. The even-odd rule over the union of all rings is exactly
    point-in-MultiPolygon-with-holes (a point inside a hole crosses the
    outer ring once and the hole ring once → even → outside), so one
    stacked edge array per state handles real GADM multi-part geometry
    (islands/exclaves) that the previous outer-ring-of-first-part
    extraction silently dropped."""
    if doc["type"] == "Polygon":
        polys = [doc["coordinates"]]
    elif doc["type"] == "MultiPolygon":
        polys = doc["coordinates"]
    else:  # pragma: no cover - boundary functions only emit these two
        raise ValueError(f"unsupported geometry type {doc['type']!r}")
    chunks = []
    for poly in polys:
        for ring in poly:  # ring 0 = outer, 1.. = holes; even-odd treats alike
            r = np.asarray(ring, dtype=np.float64)
            chunks.append(np.hstack([r[:-1], r[1:]]))
    return np.vstack(chunks)


def state_rings() -> list[tuple[str, np.ndarray]]:
    """(iso_code, (m, 4) edge array) per state, parsed from the SAME
    geojson `SUDAN_Boundaries('state')` serves — so point assignment
    and the boundary table can never disagree. All parts and holes of
    each state's geometry are included (see _geometry_edges)."""
    out = []
    for i, (iso, _name, _name_ar, _lon, _lat) in enumerate(geo_states.SUDAN_STATES):
        doc = json.loads(geo_states.state_boundary_geojson(i))
        out.append((iso, _geometry_edges(doc)))
    return out


def _ray_cast(lons: np.ndarray, lats: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """Even-odd rule, vectorized points × edges. Boundary points follow
    the half-open edge convention (consistent, not symmetric — fine
    for assignment)."""
    x0, y0, x1, y1 = edges[:, 0], edges[:, 1], edges[:, 2], edges[:, 3]
    lat_c = lats[:, None]
    lon_c = lons[:, None]
    crosses = (y0[None, :] > lat_c) != (y1[None, :] > lat_c)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0[None, :] + (lat_c - y0[None, :]) * (x1 - x0)[None, :] / (y1 - y0)[None, :]
    hits = crosses & (lon_c < xint)
    return hits.sum(axis=1) % 2 == 1


def assign_points_to_states(
    points: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    rings: list[tuple[str, np.ndarray]] | None = None,
) -> DataFrame:
    """Append `iso_code` (first containing state in SUDAN_STATES order,
    NULL when outside every ring) to a point DataFrame. Map-only.
    `rings` defaults to the served (offline) geometry; the live GADM
    tier passes genuine rings through the same kernel (r14)."""
    rings = state_rings() if rings is None else rings

    @F.pandas_udf(T.StringType())
    def which_state(lon: pd.Series, lat: pd.Series) -> pd.Series:
        lons = lon.to_numpy(dtype=np.float64)
        lats = lat.to_numpy(dtype=np.float64)
        out = np.full(len(lons), None, dtype=object)
        unassigned = np.ones(len(lons), dtype=bool)
        for iso, edges in rings:
            if not unassigned.any():
                break
            idx = np.nonzero(unassigned)[0]
            inside = _ray_cast(lons[idx], lats[idx], edges)
            hit = idx[inside]
            out[hit] = iso
            unassigned[hit] = False
        return pd.Series(out)

    # nondeterministic, so Catalyst never copies the call into a filter
    # pushed below this projection: `where(iso_code IS NOT NULL)` on the
    # result would otherwise run the ray cast a second time per row
    which_state = which_state.asNondeterministic()
    return points.withColumn("iso_code", which_state(F.col(lon_col), F.col(lat_col)))


@register("sudan_point_in_state")  # rows-only: ray casting isn't SQL-expressible
def sudan_point_in_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic probe grid through the spatial join: every state
    centroid (must land in its own ring), a ring-radius-scaled offset
    point per state, and far-outside points (→ NULL). The contract is
    pinned in tests/test_geo.py."""
    probes = []
    for iso, name, _ar, lon, lat in geo_states.SUDAN_STATES:
        probes.append((f"centroid:{iso}", lon, lat))
        probes.append((f"offset:{iso}", lon + 0.2, lat + 0.1))
    probes += [("outside:atlantic", -30.0, 0.0), ("outside:pole", 30.0, 89.0)]
    df = local_frame(spark, probes, "probe string, lon double, lat double")
    return assign_points_to_states(df).orderBy("probe")


@register("sudan_state_point_counts")  # rows-only: ray casting isn't SQL-expressible
def sudan_state_point_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §A composition a GIS consumer actually runs: a deterministic
    point grid over the country bbox assigned to states (broadcast
    ray-cast map stage), aggregated per state, then joined back to
    SUDAN_States for names/centroids — point data → admin rollup in
    one plan. With the r6 Voronoi placeholder partition, counts are
    exact cell areas in grid units (no gaps, no overlaps — pinned by
    the geo partition tests). The grid is generated with sequence/
    explode (no driver loop), the polygon side rides in the UDF
    closure, and the only shuffle is the tiny per-state aggregate."""
    from duckdb_sudan__spark.geo import states as geo_states

    n = 60  # 60×60 grid over the bbox
    lon0, lon1 = geo_states.COUNTRY_CENTER[0] - geo_states.COUNTRY_RX, geo_states.COUNTRY_CENTER[0] + geo_states.COUNTRY_RX
    lat0, lat1 = geo_states.COUNTRY_CENTER[1] - geo_states.COUNTRY_RY, geo_states.COUNTRY_CENTER[1] + geo_states.COUNTRY_RY
    grid = (
        spark.range(n * n)
        .select(
            (F.lit(lon0) + (F.col("id") % n) * F.lit((lon1 - lon0) / (n - 1))).alias("lon"),
            (F.lit(lat0) + (F.col("id") / n).cast("long") * F.lit((lat1 - lat0) / (n - 1))).alias("lat"),
        )
    )
    assigned = assign_points_to_states(grid).where(F.col("iso_code").isNotNull())
    counts = assigned.groupBy("iso_code").agg(F.count(F.lit(1)).alias("n_points"))
    states = geo_states.sudan_states(spark).select("iso_code", "state_name", "centroid_lon", "centroid_lat")
    return (
        counts.join(F.broadcast(states), "iso_code")
        .select("iso_code", "state_name", "n_points", "centroid_lon", "centroid_lat")
        .orderBy("iso_code")
    )


@register("sudan_nearest_state")  # rows-only: ray casting + argmin aren't SQL
def sudan_nearest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-state fallback — the geo-enrichment step after the
    polygon join: points OUTSIDE every ring (coastal jitter, border
    GPS noise, the envelope gap) still get assigned to their nearest
    state centroid with the distance recorded, instead of dropping as
    NULL. Emits both the polygon verdict (iso_code, NULL when outside)
    and the fallback (nearest_iso, nearest_deg) for every probe, so a
    consumer can choose strict or fallback semantics per use case.

    Metric note: distance is Euclidean in DEGREES — the SAME metric
    the offline Voronoi partition is seeded with, which yields the
    tested invariant that an interior point's containing cell IS its
    nearest centroid (geodesic km would be the production metric with
    real GADM shapes; with the placeholder partition, metric
    consistency with the partition is the honest choice). The 18
    centroids ride in the UDF closure (broadcast), the argmin is one
    numpy reduction per Arrow batch — map-only, zero shuffle."""
    from duckdb_sudan__spark.geo import states as geo_states

    cents = [(iso, lon, lat) for iso, _n, _a, lon, lat in geo_states.SUDAN_STATES]
    isos = [c[0] for c in cents]
    CX = np.array([c[1] for c in cents])
    CY = np.array([c[2] for c in cents])

    @F.pandas_udf("nearest_iso string, nearest_deg double")
    def nearest(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        lons = lon.to_numpy(dtype=np.float64)
        lats = lat.to_numpy(dtype=np.float64)
        d2 = (lons[:, None] - CX[None, :]) ** 2 + (lats[:, None] - CY[None, :]) ** 2
        k = d2.argmin(axis=1)
        return pd.DataFrame(
            {
                "nearest_iso": [isos[i] for i in k],
                "nearest_deg": np.sqrt(d2[np.arange(len(k)), k]),
            }
        )

    probes = []
    for iso, _name, _ar, lon, lat in geo_states.SUDAN_STATES:
        probes.append((f"centroid:{iso}", lon, lat))
    probes += [
        ("outside:red_sea", 38.5, 20.5),
        ("outside:egypt_border", 31.0, 23.5),
        ("outside:atlantic", -30.0, 0.0),
    ]
    df = local_frame(spark, probes, "probe string, lon double, lat double")
    out = assign_points_to_states(df).withColumn("nn", nearest(F.col("lon"), F.col("lat")))
    return (
        out.select(
            "probe", "lon", "lat", "iso_code",
            F.col("nn.nearest_iso").alias("nearest_iso"),
            F.round(F.col("nn.nearest_deg"), 6).alias("nearest_deg"),
        )
        .orderBy("probe")
    )


# ---------------------------------------------------------------------------
# sudan_state_areas — exact integer shoelace over the SERVED geometry
# ---------------------------------------------------------------------------


def _ring_2area_microdeg(ring: list[list[float]]) -> int:
    """|2·area| of one ring in micro-degree² — determinant shoelace on
    round(coord·1e6) int64 coordinates. Exact integer arithmetic: the
    served geojson rounds coordinates to 6 decimals, so the scaled
    values ARE integers and the sum is exact (|xi|≈4e7, 40-term sum
    ≪ 2^63) — no float enters, so an independently-coded reference
    (the trapezoid form in the oracle builder) lands on the identical
    integer."""
    pts = [(round(x * 1_000_000), round(y * 1_000_000)) for x, y in ring]
    if pts[0] == pts[-1]:
        pts = pts[:-1]
    s = 0
    for (x0, y0), (x1, y1) in zip(pts, pts[1:] + pts[:1]):
        s += x0 * y1 - x1 * y0
    return abs(s)


def _geom_2area_and_parts(doc: dict) -> tuple[int, int, int]:
    """(|2·area|, n_parts, n_holes) for a Polygon/MultiPolygon under
    even-odd semantics: outer ring area minus hole areas, per part."""
    polys = [doc["coordinates"]] if doc["type"] == "Polygon" else doc["coordinates"]
    total, n_holes = 0, 0
    for poly in polys:
        total += _ring_2area_microdeg(poly[0])
        for hole in poly[1:]:
            total -= _ring_2area_microdeg(hole)
            n_holes += 1
    return total, len(polys), n_holes


def _state_areas_oracle() -> str:
    """Independent trapezoid-form shoelace (Σ(x0+x1)(y1−y0), same
    exact integer grid) rendered as a VALUES oracle — valid at every
    SF because the served offline geometry is data-independent."""
    from duckdb_sudan__spark.oracle import values_sql

    rows = []
    for i, (iso, name, _ar, _lon, _lat) in enumerate(geo_states.SUDAN_STATES):
        doc = json.loads(geo_states.state_boundary_geojson(i))
        polys = [doc["coordinates"]] if doc["type"] == "Polygon" else doc["coordinates"]
        total, n_holes = 0, 0
        for poly in polys:
            for ri, ring in enumerate(poly):
                pts = [(round(x * 1_000_000), round(y * 1_000_000)) for x, y in ring]
                if pts[0] == pts[-1]:
                    pts = pts[:-1]
                s = 0
                for (x0, y0), (x1, y1) in zip(pts, pts[1:] + pts[:1]):
                    s += (x0 + x1) * (y1 - y0)
                if ri == 0:
                    total += abs(s)
                else:
                    total -= abs(s)
                    n_holes += 1
        rows.append((iso, name, total, len(polys), n_holes))
    return (
        values_sql(
            sorted(rows),
            ["iso_code", "state_name", "area2_microdeg2", "n_parts", "n_holes"],
            ["VARCHAR", "VARCHAR", "BIGINT", "INTEGER", "INTEGER"],
        )
        + " ORDER BY iso_code"
    )


def _register_state_areas() -> None:
    @register("sudan_state_areas", _state_areas_oracle())
    def sudan_state_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-state polygon area from the SERVED boundary geojson —
        the geometry itself through the HASH gate (the other geo
        entries hash names/codes; this one hashes a value computed
        FROM the ring coordinates). Spark side: the boundary relation
        -> one Arrow map stage running the determinant-form integer
        shoelace per geojson; oracle: an independently coded
        trapezoid-form shoelace baked as VALUES (data-independent
        offline geometry => SF-invariant). Exact int64 arithmetic on
        the 1e-6-degree grid — no float anywhere, so two different
        formulations must agree bit-for-bit."""
        bounds = geo_states.sudan_boundaries(spark, "state")

        @F.pandas_udf("struct<area2:bigint,n_parts:int,n_holes:int>")
        def area_of(geojson: pd.Series) -> pd.DataFrame:
            out = []
            for g in geojson:
                a2, n_parts, n_holes = _geom_2area_and_parts(json.loads(g))
                out.append({"area2": a2, "n_parts": n_parts, "n_holes": n_holes})
            return pd.DataFrame(out)

        return (
            bounds.select(
                "iso_code", "state_name", area_of(F.col("geojson")).alias("a")
            )
            .select(
                "iso_code",
                "state_name",
                F.col("a.area2").alias("area2_microdeg2"),
                F.col("a.n_parts").cast("int").alias("n_parts"),
                F.col("a.n_holes").cast("int").alias("n_holes"),
            )
            .orderBy("iso_code")
        )


_register_state_areas()


# ---------------------------------------------------------------------------
# sudan_state_intersect_area — polygon x polygon intersection area
# ---------------------------------------------------------------------------
# The first generic-geometry workflow a geospatial user hits after
# point-in-state (the reference's docs drive its geojson into DuckDB
# spatial's ST_Intersection/ST_Area, docs/functions.md:170): how much
# of each admin area falls inside an arbitrary query region (an AOI
# box, a raster tile, a flood-model footprint). Spark-first shape is
# identical to sudan_state_areas: the boundary relation is dim-sized
# (18 rows), so the clip runs in ONE Arrow map stage with the clip
# region as a plan literal — no shuffle, no join; at 100 TB of query
# regions you'd broadcast the states instead and map over the regions.
#
# Determinism contract: Sutherland-Hodgman against a convex clip box
# introduces intersection vertices at RATIONAL coordinates, so all
# clipping runs in exact Fraction arithmetic on the integer microdeg
# grid; 2*area is then an exact rational, rounded once to int64.
# The oracle (below) is an INDEPENDENTLY CODED clipper — trapezoid-
# form shoelace, reversed half-plane order, differently-structured
# loop — baked as a VALUES oracle (data-independent offline geometry
# => SF-invariant), exactly the sudan_state_areas verification idiom.

# query AOI: lon 28-34 E, lat 12-17 N (central Sudan) in microdegrees
_AOI_BOX = (28_000_000, 34_000_000, 12_000_000, 17_000_000)  # W, E, S, N


def _sh_clip_halfplane(pts, keep, intersect):
    """One Sutherland-Hodgman pass: keep() tests the closed half-plane,
    intersect() returns the exact crossing point of segment a->b."""
    out = []
    n = len(pts)
    for i in range(n):
        a, b = pts[i], pts[(i + 1) % n]
        ka, kb = keep(a), keep(b)
        if ka:
            out.append(a)
            if not kb:
                out.append(intersect(a, b))
        elif kb:
            out.append(intersect(a, b))
    return out


def _clip_ring_to_box(ring, box):
    """Clip one ring (microdeg int pairs, closed or open) to the box;
    returns the clipped ring as exact Fraction pairs (possibly [])."""
    from fractions import Fraction

    w, e, s, n = box
    pts = [(Fraction(int(x)), Fraction(int(y))) for x, y in ring]
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]

    def ix_v(c):  # crossing of a->b with the vertical line x = c
        def f(a, b):
            t = (c - a[0]) / (b[0] - a[0])
            return (Fraction(c), a[1] + t * (b[1] - a[1]))
        return f

    def ix_h(c):  # crossing with the horizontal line y = c
        def f(a, b):
            t = (c - a[1]) / (b[1] - a[1])
            return (a[0] + t * (b[0] - a[0]), Fraction(c))
        return f

    for keep, ix in (
        (lambda p: p[0] >= w, ix_v(w)),
        (lambda p: p[0] <= e, ix_v(e)),
        (lambda p: p[1] >= s, ix_h(s)),
        (lambda p: p[1] <= n, ix_h(n)),
    ):
        if len(pts) < 3:
            return []
        pts = _sh_clip_halfplane(pts, keep, ix)
    return pts if len(pts) >= 3 else []


def _clip_2area(doc: dict, box) -> int:
    """round(2 * area(geom ∩ box)) in microdeg², even-odd semantics:
    per part, clipped outer ring area minus clipped hole areas.
    Determinant-form shoelace over exact Fractions; ONE terminal
    round, so two exact implementations must agree bit-for-bit.

    NOTE: the generic _clip_2area_convex subsumes this box special
    case (test_generic_clip_box_parity_with_aoi_entry proves bit-equal
    output on every state); the box path is kept verbatim because
    sudan_state_intersect_area sits in the committed r12 driver window
    and window entries are change-frozen mid-round. Any rounding/hole
    semantics fix MUST be applied to both (the parity test enforces
    agreement)."""
    from fractions import Fraction

    polys = [doc["coordinates"]] if doc["type"] == "Polygon" else doc["coordinates"]
    total = Fraction(0)
    for poly in polys:
        for ri, ring in enumerate(poly):
            grid = [(round(x * 1_000_000), round(y * 1_000_000)) for x, y in ring]
            pts = _clip_ring_to_box(grid, box)
            if not pts:
                continue
            s = Fraction(0)
            for (x0, y0), (x1, y1) in zip(pts, pts[1:] + pts[:1]):
                s += x0 * y1 - x1 * y0  # determinant form
            total += abs(s) if ri == 0 else -abs(s)
    return round(total)


# --- independently coded oracle clipper (trapezoid shoelace, reversed
# --- half-plane order, while-loop structure) -------------------------------


def _oracle_halfplane(points, inside, cross):
    clipped = []
    m = len(points)
    i = 0
    while i < m:
        cur = points[i]
        nxt = points[(i + 1) % m]
        ci, ni = inside(cur), inside(nxt)
        if ci and ni:
            clipped.append(nxt)
        elif ci and not ni:
            clipped.append(cross(cur, nxt))
        elif ni:
            clipped.append(cross(cur, nxt))
            clipped.append(nxt)
        i += 1
    return clipped


def _oracle_clip_2area(doc: dict, box) -> int:
    from fractions import Fraction

    w, e, s, n = box
    planes = (
        (lambda p: p[1] <= n, lambda a, b: (a[0] + (Fraction(n) - a[1]) * (b[0] - a[0]) / (b[1] - a[1]), Fraction(n))),
        (lambda p: p[1] >= s, lambda a, b: (a[0] + (Fraction(s) - a[1]) * (b[0] - a[0]) / (b[1] - a[1]), Fraction(s))),
        (lambda p: p[0] <= e, lambda a, b: (Fraction(e), a[1] + (Fraction(e) - a[0]) * (b[1] - a[1]) / (b[0] - a[0]))),
        (lambda p: p[0] >= w, lambda a, b: (Fraction(w), a[1] + (Fraction(w) - a[0]) * (b[1] - a[1]) / (b[0] - a[0]))),
    )
    polys = [doc["coordinates"]] if doc["type"] == "Polygon" else doc["coordinates"]
    total = Fraction(0)
    for poly in polys:
        for ri, ring in enumerate(poly):
            pts = [
                (Fraction(round(x * 1_000_000)), Fraction(round(y * 1_000_000)))
                for x, y in (ring[:-1] if ring[0] == ring[-1] else ring)
            ]
            for inside, cross in planes:
                if len(pts) < 3:
                    pts = []
                    break
                pts = _oracle_halfplane(pts, inside, cross)
            if len(pts) < 3:
                continue
            acc = Fraction(0)  # trapezoid form: Σ (x0+x1)(y1-y0)
            for (x0, y0), (x1, y1) in zip(pts, pts[1:] + pts[:1]):
                acc += (x0 + x1) * (y1 - y0)
            total += abs(acc) if ri == 0 else -abs(acc)
    return round(total)


def _intersect_area_oracle() -> str:
    import json as _json

    from duckdb_sudan__spark.oracle import values_sql

    rows = []
    for i, (iso, name, _ar, _lon, _lat) in enumerate(geo_states.SUDAN_STATES):
        doc = _json.loads(geo_states.state_boundary_geojson(i))
        a2, _parts, _holes = _geom_2area_and_parts(doc)
        c2 = _oracle_clip_2area(doc, _AOI_BOX)
        rows.append((iso, name, c2, a2, 1_000_000 * c2 // a2))
    return (
        values_sql(
            sorted(rows),
            ["iso_code", "state_name", "clip_area2_microdeg2",
             "area2_microdeg2", "pct_in_aoi_ppm"],
            ["VARCHAR", "VARCHAR", "BIGINT", "BIGINT", "BIGINT"],
        )
        + " ORDER BY iso_code"
    )


def _register_intersect_area() -> None:
    @register("sudan_state_intersect_area", _intersect_area_oracle())
    def sudan_state_intersect_area(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Share of each state inside the AOI box: clip every served
        ring to the box (exact-Fraction Sutherland-Hodgman), shoelace
        the clipped rings, divide by the state's own area (integer
        ppm — floor div matches DuckDB // on non-negatives). One Arrow
        map over the 18-row boundary relation; the AOI is a literal."""
        bounds = geo_states.sudan_boundaries(spark, "state")

        @F.pandas_udf("struct<clip2:bigint,area2:bigint>")
        def clip_of(geojson: pd.Series) -> pd.DataFrame:
            out = []
            for g in geojson:
                doc = json.loads(g)
                a2, _p, _h = _geom_2area_and_parts(doc)
                out.append({"clip2": _clip_2area(doc, _AOI_BOX), "area2": a2})
            return pd.DataFrame(out)

        return (
            bounds.select("iso_code", "state_name", clip_of(F.col("geojson")).alias("c"))
            .select(
                "iso_code",
                "state_name",
                F.col("c.clip2").alias("clip_area2_microdeg2"),
                F.col("c.area2").alias("area2_microdeg2"),
                # area2 reaches ~5e13 microdeg² — 1e6 * clip2 overflows
                # int64, so the ppm ratio multiplies in DECIMAL (exact)
                # and div returns the integral quotient as BIGINT
                F.expr(
                    "cast(1000000 * cast(c.clip2 as decimal(19,0))"
                    " div cast(c.area2 as decimal(19,0)) as bigint)"
                ).alias("pct_in_aoi_ppm"),
            )
            .orderBy("iso_code")
        )


_register_intersect_area()


# ---------------------------------------------------------------------------
# sudan_state_centroid_bbox — polygon centroid + bounding box
# ---------------------------------------------------------------------------
# The second generic-geometry rung after intersection area: label
# placement / map-extent queries need each area's centroid and bbox
# (DuckDB spatial's ST_Centroid / ST_Extent workflow). Centroid of a
# polygon is (Σ (x0+x1)·cross, Σ (y0+y1)·cross) / (3·Σ cross) with
# cross = x0·y1 − x1·y0 — exact integers on the microdeg grid until
# the ONE terminal division per axis; holes subtract by signed cross.
# Presented as microdeg BIGINTs (round of the exact rational — the
# same one-terminal-round contract as the clip entry). BBox is exact
# min/max ints. Oracle: independently coded accumulation (per-vertex
# loop vs the query's zip form) baked as VALUES — SF-invariant.

def _centroid_bbox(doc: dict) -> tuple:
    """(cx_microdeg, cy_microdeg, west, south, east, north) — query-side
    form: zip over ring edges, signed cross accumulation (CCW outer
    rings positive, holes negative by their own winding after the
    even-odd |outer| − |holes| convention used for areas does NOT
    apply to centroids — signed accumulation handles any winding)."""
    from fractions import Fraction

    polys = [doc["coordinates"]] if doc["type"] == "Polygon" else doc["coordinates"]
    sa = Fraction(0)
    sx = Fraction(0)
    sy = Fraction(0)
    xs: list[int] = []
    ys: list[int] = []
    for poly in polys:
        for ring in poly:
            pts = [(round(x * 1_000_000), round(y * 1_000_000)) for x, y in ring]
            if pts[0] == pts[-1]:
                pts = pts[:-1]
            xs.extend(p[0] for p in pts)
            ys.extend(p[1] for p in pts)
            for (x0, y0), (x1, y1) in zip(pts, pts[1:] + pts[:1]):
                cross = x0 * y1 - x1 * y0
                sa += cross
                sx += (x0 + x1) * cross
                sy += (y0 + y1) * cross
    cx = round(sx / (3 * sa))
    cy = round(sy / (3 * sa))
    return cx, cy, min(xs), min(ys), max(xs), max(ys)


def _oracle_centroid_bbox(doc: dict) -> tuple:
    """Independently coded accumulation: explicit index loop, factored
    shoelace terms, bbox via running min/max — same exact rationals."""
    from fractions import Fraction

    polys = [doc["coordinates"]] if doc["type"] == "Polygon" else doc["coordinates"]
    area6 = Fraction(0)  # 6 * signed area
    mx = Fraction(0)
    my = Fraction(0)
    w = s_ = e = n = None
    for poly in polys:
        for ring in poly:
            pts = [(round(p[0] * 1_000_000), round(p[1] * 1_000_000)) for p in ring]
            if pts[0] == pts[-1]:
                pts.pop()
            m = len(pts)
            for i in range(m):
                x0, y0 = pts[i]
                x1, y1 = pts[(i + 1) % m]
                t = Fraction(x0) * y1 - Fraction(x1) * y0
                area6 += 3 * t
                mx += (x0 + x1) * t
                my += (y0 + y1) * t
                for xx, yy in ((x0, y0),):
                    w = xx if w is None or xx < w else w
                    e = xx if e is None or xx > e else e
                    s_ = yy if s_ is None or yy < s_ else s_
                    n = yy if n is None or yy > n else n
    return round(mx / area6), round(my / area6), w, s_, e, n


def _centroid_bbox_oracle() -> str:
    import json as _json

    from duckdb_sudan__spark.oracle import values_sql

    rows = []
    for i, (iso, name, _ar, _lon, _lat) in enumerate(geo_states.SUDAN_STATES):
        doc = _json.loads(geo_states.state_boundary_geojson(i))
        cx, cy, w, s_, e, n = _oracle_centroid_bbox(doc)
        rows.append((iso, name, cx, cy, w, s_, e, n))
    return (
        values_sql(
            sorted(rows),
            ["iso_code", "state_name", "centroid_x_microdeg", "centroid_y_microdeg",
             "bbox_w", "bbox_s", "bbox_e", "bbox_n"],
            ["VARCHAR", "VARCHAR", "BIGINT", "BIGINT",
             "BIGINT", "BIGINT", "BIGINT", "BIGINT"],
        )
        + " ORDER BY iso_code"
    )


def _register_centroid_bbox() -> None:
    @register("sudan_state_centroid_bbox", _centroid_bbox_oracle())
    def sudan_state_centroid_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Centroid + bbox of every served state geometry: one Arrow
        map over the 18-row boundary relation (same shape as the area
        and clip entries); exact-rational centroid with one terminal
        round per axis, exact integer bbox."""
        bounds = geo_states.sudan_boundaries(spark, "state")

        @F.pandas_udf(
            "struct<cx:bigint,cy:bigint,w:bigint,s:bigint,e:bigint,n:bigint>"
        )
        def cb_of(geojson: pd.Series) -> pd.DataFrame:
            out = []
            for g in geojson:
                cx, cy, w, s_, e, n = _centroid_bbox(json.loads(g))
                out.append({"cx": cx, "cy": cy, "w": w, "s": s_, "e": e, "n": n})
            return pd.DataFrame(out)

        return (
            bounds.select("iso_code", "state_name", cb_of(F.col("geojson")).alias("c"))
            .select(
                "iso_code", "state_name",
                F.col("c.cx").alias("centroid_x_microdeg"),
                F.col("c.cy").alias("centroid_y_microdeg"),
                F.col("c.w").alias("bbox_w"), F.col("c.s").alias("bbox_s"),
                F.col("c.e").alias("bbox_e"), F.col("c.n").alias("bbox_n"),
            )
            .orderBy("iso_code")
        )


_register_centroid_bbox()


# ---------------------------------------------------------------------------
# sudan_states_shared_borders — adjacency matrix from exact shared edges
# ---------------------------------------------------------------------------
# The ST_Touches workflow (the reference's geojson feeds DuckDB
# spatial's predicates, docs/functions.md:170): which admin areas
# border each other, and how long is the shared border. The served
# offline geometry is a gap-free Voronoi partition, so adjacent states
# share boundary segments VERTEX-FOR-VERTEX — adjacency is an exact
# equi-join on canonical (sorted-endpoint) edge keys on the integer
# microdeg grid, no tolerance radius, no float. Border "length" is the
# exact L1 (|dx|+|dy|) sum over shared edges — additive and integer,
# where Euclidean length would drag an irrational sqrt per segment
# into the hash.
#
# Spark-first shape: per-state canonical-edge SETS extracted in one
# Arrow map over the 18-row boundary relation, exploded to edge rows,
# self-joined on the edge key (iso_a < iso_b), aggregated per pair.
# At 100 TB (country-scale parcel/cadastre data) the same plan
# shuffles on the edge key — adjacency without any pairwise geometry
# test. Oracle: an independently coded formulation (edge→state-set
# dict accumulation, pair counting — no join) baked as VALUES;
# data-independent offline geometry => SF-invariant.


def _state_edge_set(doc: dict) -> list[tuple]:
    """Canonical undirected edges of every ring on the microdeg grid:
    ((x0,y0),(x1,y1)) with endpoints sorted; deduped per state."""
    polys = [doc["coordinates"]] if doc["type"] == "Polygon" else doc["coordinates"]
    edges = set()
    for poly in polys:
        for ring in poly:
            grid = [(round(x * 1_000_000), round(y * 1_000_000)) for x, y in ring]
            if len(grid) > 1 and grid[0] == grid[-1]:
                grid = grid[:-1]
            for a, b in zip(grid, grid[1:] + grid[:1]):
                if a == b:
                    continue
                edges.add((a, b) if a <= b else (b, a))
    return sorted(edges)


def _shared_borders_oracle() -> str:
    """Independent formulation: accumulate edge → {states} in a dict
    (re-walking raw rings with its own canonicalization), then count
    pairs — no join, no per-state set structure."""
    from duckdb_sudan__spark.oracle import values_sql

    seen: dict[tuple, set] = {}
    for i, (iso, _name, _ar, _lon, _lat) in enumerate(geo_states.SUDAN_STATES):
        doc = json.loads(geo_states.state_boundary_geojson(i))
        polys = [doc["coordinates"]] if doc["type"] == "Polygon" else doc["coordinates"]
        for poly in polys:
            for ring in poly:
                pts = [(round(x * 1_000_000), round(y * 1_000_000)) for x, y in ring]
                if pts[0] == pts[-1]:
                    pts = pts[:-1]
                n = len(pts)
                for j in range(n):
                    a, b = pts[j], pts[(j + 1) % n]
                    if a == b:
                        continue
                    key = (min(a, b), max(a, b))
                    seen.setdefault(key, set()).add(iso)
    pairs: dict[tuple, list] = {}
    for (a, b), isos in seen.items():
        if len(isos) < 2:
            continue
        l1 = abs(a[0] - b[0]) + abs(a[1] - b[1])
        ordered = sorted(isos)
        for x in range(len(ordered)):
            for y in range(x + 1, len(ordered)):
                acc = pairs.setdefault((ordered[x], ordered[y]), [0, 0])
                acc[0] += 1
                acc[1] += l1
    rows = [(a, b, n_e, l1) for (a, b), (n_e, l1) in sorted(pairs.items())]
    return (
        values_sql(
            rows,
            ["iso_a", "iso_b", "n_shared_edges", "border_l1_microdeg"],
            ["VARCHAR", "VARCHAR", "BIGINT", "BIGINT"],
        )
        + " ORDER BY iso_a, iso_b"
    )


def _register_shared_borders() -> None:
    @register("sudan_states_shared_borders", _shared_borders_oracle())
    def sudan_states_shared_borders(spark: SparkSession, sf_dir: str) -> DataFrame:
        bounds = geo_states.sudan_boundaries(spark, "state")

        @F.pandas_udf("array<struct<ek:string,l1:bigint>>")
        def edges_of(geojson: pd.Series) -> pd.Series:
            out = []
            for g in geojson:
                es = _state_edge_set(json.loads(g))
                out.append(
                    [
                        {
                            "ek": f"{a[0]}:{a[1]}:{b[0]}:{b[1]}",
                            "l1": abs(a[0] - b[0]) + abs(a[1] - b[1]),
                        }
                        for a, b in es
                    ]
                )
            return pd.Series(out)

        edges = (
            bounds.select("iso_code", F.explode(edges_of(F.col("geojson"))).alias("e"))
            .select("iso_code", F.col("e.ek").alias("ek"), F.col("e.l1").alias("l1"))
        )
        a = edges.alias("a")
        b = edges.alias("b")
        return (
            a.join(b, (F.col("a.ek") == F.col("b.ek")) & (F.col("a.iso_code") < F.col("b.iso_code")))
            .groupBy(
                F.col("a.iso_code").alias("iso_a"),
                F.col("b.iso_code").alias("iso_b"),
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_shared_edges"),
                F.sum("a.l1").cast("bigint").alias("border_l1_microdeg"),
            )
            .orderBy("iso_a", "iso_b")
        )


_register_shared_borders()


# ---------------------------------------------------------------------------
# sudan_state_convex_hull — hull + convexity through the hash gate
# ---------------------------------------------------------------------------
# The next generic-geometry rung after area/centroid/intersection:
# ST_ConvexHull + the convexity ratio (state area / hull area) —
# the standard shape-compactness screen a geospatial user runs to
# find fragmented or concave admin areas. Same determinism contract
# as the other rungs: ALL-INTEGER microdegree arithmetic; the Spark
# side runs Andrew's monotone chain in one Arrow map stage over the
# 18-row boundary relation; the oracle is an INDEPENDENTLY-CODED
# Jarvis gift-wrapping hull baked as VALUES. Both drop collinear
# hull points (strict turns), so vertex counts — not just areas —
# must agree exactly. Convexity is floor ppm of exact integers.


def _hull_monotone_chain(pts: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Andrew's monotone chain on integer points, strict turns (<= 0
    pops collinear points off the hull)."""
    pts = sorted(set(pts))
    if len(pts) <= 2:
        return pts

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list[tuple[int, int]] = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list[tuple[int, int]] = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return lower[:-1] + upper[:-1]


def _hull_gift_wrap(pts: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Jarvis march (the INDEPENDENT formulation for the oracle):
    wrap counter-clockwise, always choosing the strictly most-CCW
    point and, among collinear candidates, the farthest — collinear
    intermediates never enter the hull."""
    pts = sorted(set(pts))
    if len(pts) <= 2:
        return pts
    start = min(pts)  # lexicographically smallest is on the hull
    hull = [start]
    cur = start
    while True:
        cand = pts[0] if pts[0] != cur else pts[1]
        for p in pts:
            if p == cur:
                continue
            cx = (cand[0] - cur[0]) * (p[1] - cur[1]) - (cand[1] - cur[1]) * (p[0] - cur[0])
            if cx < 0:  # p is clockwise of cand: cand stays
                continue
            if cx > 0:  # p is counter-clockwise of cand: p wins
                cand = p
            else:  # collinear: farthest wins
                d_c = (cand[0] - cur[0]) ** 2 + (cand[1] - cur[1]) ** 2
                d_p = (p[0] - cur[0]) ** 2 + (p[1] - cur[1]) ** 2
                if d_p > d_c:
                    cand = p
        cur = cand
        if cur == start:
            break
        hull.append(cur)
    return hull


def _hull_2area(hull: list[tuple[int, int]]) -> int:
    s = 0
    for (x0, y0), (x1, y1) in zip(hull, hull[1:] + hull[:1]):
        s += x0 * y1 - x1 * y0
    return abs(s)


def _geom_micropoints(doc: dict) -> list[tuple[int, int]]:
    """All OUTER-ring vertices of every part on the 1e-6-degree grid
    (holes cannot touch the convex hull of their polygon)."""
    polys = [doc["coordinates"]] if doc["type"] == "Polygon" else doc["coordinates"]
    pts = []
    for poly in polys:
        for x, y in poly[0]:
            pts.append((round(x * 1_000_000), round(y * 1_000_000)))
    return pts


def _convex_hull_oracle() -> str:
    from duckdb_sudan__spark.oracle import values_sql

    rows = []
    for i, (iso, name, _ar, _lon, _lat) in enumerate(geo_states.SUDAN_STATES):
        doc = json.loads(geo_states.state_boundary_geojson(i))
        pts = _geom_micropoints(doc)
        hull = _hull_gift_wrap(pts)
        hull_a2 = _hull_2area(hull)
        state_a2, _, _ = _geom_2area_and_parts(doc)
        rows.append(
            (iso, name, len(hull), hull_a2, 1_000_000 * state_a2 // hull_a2)
        )
    return (
        values_sql(
            sorted(rows),
            ["iso_code", "state_name", "hull_vertices", "hull_area2_microdeg2", "convexity_ppm"],
            ["VARCHAR", "VARCHAR", "BIGINT", "BIGINT", "BIGINT"],
        )
        + " ORDER BY iso_code"
    )


def _register_convex_hull() -> None:
    @register("sudan_state_convex_hull", _convex_hull_oracle())
    def sudan_state_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Convex hull + convexity ratio per state: Spark side runs
        Andrew's monotone chain (strict turns) in one Arrow map stage
        over the 18-row boundary relation; the oracle is a separately
        coded Jarvis march baked as VALUES. Exact integer microdegree
        arithmetic end-to-end — vertex counts, hull areas, and the
        floor-ppm convexity must all match bit-for-bit."""
        bounds = geo_states.sudan_boundaries(spark, "state")

        @F.pandas_udf("struct<nv:bigint,ha2:bigint,conv:bigint>")
        def hull_of(geojson: pd.Series) -> pd.DataFrame:
            out = []
            for g in geojson:
                doc = json.loads(g)
                hull = _hull_monotone_chain(_geom_micropoints(doc))
                ha2 = _hull_2area(hull)
                sa2, _, _ = _geom_2area_and_parts(doc)
                out.append(
                    {"nv": len(hull), "ha2": ha2, "conv": 1_000_000 * sa2 // ha2}
                )
            return pd.DataFrame(out)

        return (
            bounds.select("iso_code", "state_name", hull_of(F.col("geojson")).alias("h"))
            .select(
                "iso_code",
                "state_name",
                F.col("h.nv").alias("hull_vertices"),
                F.col("h.ha2").alias("hull_area2_microdeg2"),
                F.col("h.conv").alias("convexity_ppm"),
            )
            .orderBy("iso_code")
        )


_register_convex_hull()


# ---------------------------------------------------------------------------
# sudan_geom_clip_geojson — ARBITRARY user GeoJSON polygon vs states
# ---------------------------------------------------------------------------
# The GENERIC entry point behind sudan_state_intersect_area's fixed AOI
# box (r11 VERDICT item 4): ST_GeomFromGeoJSON-composition parity with
# the reference docs' spatial workflow (docs/functions.md:170 drives a
# user geometry into ST_Intersection / ST_Area / ST_Contains). A user
# hands ANY convex GeoJSON Polygon; we clip every served state to it
# (exact-Fraction Sutherland-Hodgman against the polygon's half-plane
# set instead of the box's four axis-aligned ones), shoelace the
# clipped rings, and classify the relation (within / intersects /
# disjoint). Convexity is VALIDATED, not assumed — S-H is only exact
# for convex clip regions, so a concave region raises ValueError
# instead of silently returning union-of-halfplane garbage.
#
# Spark-first shape is unchanged from the box entry: the states are a
# dim-sized relation so the clip is ONE Arrow map with the query
# polygon as a closure literal; at 100 TB of query polygons you flip
# the sides — broadcast the 18 states and map over the polygons.
#
# Determinism contract: identical to the box entry — all crossings are
# exact Fractions on the integer microdeg grid, ONE terminal round per
# cell; the oracle is an INDEPENDENTLY CODED clipper (two-line
# determinant crossings, reversed edge order, trapezoid shoelace,
# while-loop) baked as VALUES (offline geometry => SF-invariant).


def _parse_ring_microdeg(doc: dict) -> list[tuple[int, int]]:
    """Shared GeoJSON-Polygon ring ingestion for BOTH clip validators
    (r13 review: the two parsers had drifted copies of this prologue,
    and the convex copy tolerated revisited vertices — which let a
    self-touching zero-net-area spike ring through as 'convex' and
    silently clipped everything to the spike's line). Parse to the
    integer microdegree grid, drop the closing vertex and consecutive
    duplicates, reject revisited vertices / < 3 distinct vertices /
    zero shoelace area, and normalize to CCW."""
    if doc.get("type") != "Polygon":
        raise ValueError("query geometry must be a GeoJSON Polygon")
    rings = doc.get("coordinates") or []
    if len(rings) != 1:
        raise ValueError("query polygon must have exactly one ring (no holes)")
    pts = [
        (round(float(x) * 1_000_000), round(float(y) * 1_000_000))
        for x, y in rings[0]
    ]
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]
    dedup: list[tuple[int, int]] = []
    for p in pts:
        if not dedup or p != dedup[-1]:
            dedup.append(p)
    if len(dedup) >= 2 and dedup[0] == dedup[-1]:
        dedup.pop()
    if len(dedup) != len(set(dedup)):
        raise ValueError("query polygon revisits a vertex (not a simple ring)")
    if len(dedup) < 3:
        raise ValueError("query polygon needs >= 3 distinct vertices")
    s2 = 0
    for (x0, y0), (x1, y1) in zip(dedup, dedup[1:] + dedup[:1]):
        s2 += x0 * y1 - x1 * y0
    if s2 == 0:
        raise ValueError("query polygon is degenerate (zero area)")
    if s2 < 0:
        dedup.reverse()  # normalize to CCW
    return dedup


class NotConvexError(ValueError):
    """The ring is a valid simple polygon but not convex — the ONE
    validator outcome the concave tier recovers from by triangulating
    (ADVICE r13: a typed subclass, not message-substring matching, so
    rewording a message can never silently turn concave inputs into
    hard errors)."""


def _convex_ring_microdeg(doc: dict) -> list[tuple[int, int]]:
    """Parse + validate a user GeoJSON Polygon as a convex clip region
    on the integer microdegree grid. Returns the CCW vertex ring.

    Raises NotConvexError on a reflex vertex or a multiply-wound ring
    (recoverable by the concave tier); plain ValueError on: non-Polygon
    type, holes, < 3 distinct vertices, revisited vertices, or zero
    area. Collinear pass-through vertices are tolerated (they add
    redundant half-planes, which is exact-harmless)."""
    dedup = _parse_ring_microdeg(doc)
    n = len(dedup)
    for i in range(n):
        o, a, b = dedup[i], dedup[(i + 1) % n], dedup[(i + 2) % n]
        turn = (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])
        if turn < 0:
            raise NotConvexError("query polygon is not convex (reflex vertex)")
    # The all-left-turns test alone accepts self-intersecting rings
    # that wind more than once (a pentagram's turns are all left and
    # its shoelace sum is positive — r12 review finding). A simple
    # convex ring's shoelace 2-area equals its own convex hull's
    # 2-area EXACTLY (integer vertices, both exact); any star/multi-
    # wound ring covers interior regions more than once and exceeds
    # it. Integer-exact, collinear-tolerant. (dedup is already CCW, so
    # the shoelace recompute here is nonneg.)
    s2 = 0
    for (x0, y0), (x1, y1) in zip(dedup, dedup[1:] + dedup[:1]):
        s2 += x0 * y1 - x1 * y0
    if abs(s2) != _hull_2area(_hull_monotone_chain(dedup)):
        raise NotConvexError(
            "query polygon is not convex (self-intersecting or multiply-wound ring)"
        )
    return dedup


def _clip_ring_to_convex(ring, qpts):
    """Clip one subject ring (microdeg int pairs) to the CCW convex
    polygon qpts; exact-Fraction S-H over qpts' half-planes."""
    from fractions import Fraction

    pts = [(Fraction(int(x)), Fraction(int(y))) for x, y in ring]
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]

    def halfplane(px, py, ex, ey):
        def f(pt):
            return ex * (pt[1] - py) - ey * (pt[0] - px)

        def keep(pt):
            return f(pt) >= 0

        def ix(a, b):  # fa >= 0 > fb or fb >= 0 > fa => fa != fb exactly
            fa, fb = f(a), f(b)
            t = fa / (fa - fb)
            return (a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1]))

        return keep, ix

    m = len(qpts)
    for i in range(m):
        (px, py), (qx, qy) = qpts[i], qpts[(i + 1) % m]
        keep, ix = halfplane(Fraction(px), Fraction(py), Fraction(qx - px), Fraction(qy - py))
        if len(pts) < 3:
            return []
        pts = _sh_clip_halfplane(pts, keep, ix)
    return pts if len(pts) >= 3 else []


def _clip_2area_convex_frac(doc: dict, qpts):
    """EXACT Fraction 2·area(geom ∩ convex qpts) in microdeg², even-odd:
    clipped outer area minus clipped hole areas, determinant shoelace
    over exact Fractions, NO rounding — the concave tier sums this per
    triangle and rounds ONCE terminally."""
    from fractions import Fraction

    polys = [doc["coordinates"]] if doc["type"] == "Polygon" else doc["coordinates"]
    total = Fraction(0)
    for poly in polys:
        for ri, ring in enumerate(poly):
            grid = [(round(x * 1_000_000), round(y * 1_000_000)) for x, y in ring]
            pts = _clip_ring_to_convex(grid, qpts)
            if not pts:
                continue
            s = Fraction(0)
            for (x0, y0), (x1, y1) in zip(pts, pts[1:] + pts[:1]):
                s += x0 * y1 - x1 * y0
            total += abs(s) if ri == 0 else -abs(s)
    return total


def _clip_2area_convex(doc: dict, qpts) -> int:
    """round(2 * area(geom ∩ convex qpts)) in microdeg² — ONE terminal
    round over the exact-Fraction core (the _clip_2area contract
    generalized from the AOI box to any convex polygon)."""
    return round(_clip_2area_convex_frac(doc, qpts))


# --- independently coded oracle clipper: two-line determinant
# --- crossings, REVERSED edge order, trapezoid shoelace, while-loop ---------


def _oracle_clip_2area_convex_frac(doc: dict, qpts):
    from fractions import Fraction

    def line_cross(p, q):
        # segment a->b crossed with the infinite line through p,q via
        # the homogeneous two-line determinant (different algebra from
        # the main clipper's parametric t = fa/(fa-fb))
        px, py, qx, qy = Fraction(p[0]), Fraction(p[1]), Fraction(q[0]), Fraction(q[1])

        def f(a, b):
            ax, ay, bx, by = a[0], a[1], b[0], b[1]
            d = (px - qx) * (ay - by) - (py - qy) * (ax - bx)
            x = ((px * qy - py * qx) * (ax - bx) - (px - qx) * (ax * by - ay * bx)) / d
            y = ((px * qy - py * qx) * (ay - by) - (py - qy) * (ax * by - ay * bx)) / d
            return (x, y)

        return f

    def inside_of(p, q):
        px, py, qx, qy = Fraction(p[0]), Fraction(p[1]), Fraction(q[0]), Fraction(q[1])

        def f(pt):
            return (qx - px) * (pt[1] - py) - (qy - py) * (pt[0] - px) >= 0

        return f

    m = len(qpts)
    planes = []
    for i in range(m - 1, -1, -1):  # reversed edge order
        p, q = qpts[i], qpts[(i + 1) % m]
        planes.append((inside_of(p, q), line_cross(p, q)))

    polys = [doc["coordinates"]] if doc["type"] == "Polygon" else doc["coordinates"]
    total = Fraction(0)
    for poly in polys:
        for ri, ring in enumerate(poly):
            pts = [
                (Fraction(round(x * 1_000_000)), Fraction(round(y * 1_000_000)))
                for x, y in (ring[:-1] if ring[0] == ring[-1] else ring)
            ]
            for inside, cross in planes:
                if len(pts) < 3:
                    pts = []
                    break
                pts = _oracle_halfplane(pts, inside, cross)
            if len(pts) < 3:
                continue
            acc = Fraction(0)  # trapezoid form
            for (x0, y0), (x1, y1) in zip(pts, pts[1:] + pts[:1]):
                acc += (x0 + x1) * (y1 - y0)
            total += abs(acc) if ri == 0 else -abs(acc)
    return total


def _oracle_clip_2area_convex(doc: dict, qpts) -> int:
    return round(_oracle_clip_2area_convex_frac(doc, qpts))


# The registered entry exercises the generic path with a NON-axis-
# aligned convex AOI (a regular hexagon over central-east Sudan,
# rotated 15° so no edge is horizontal or vertical — every half-plane
# takes the generic branch the box entry never hits). Vertices are
# exact microdegree integers; the GeoJSON doc is built from them so
# parse -> round(x*1e6) round-trips bit-exactly.
_HEX_AOI_MICRODEG = [
    (36_363_703, 16_035_276),
    (33_535_276, 18_863_703),
    (29_671_573, 17_828_427),
    (28_636_297, 13_964_724),
    (31_464_724, 11_136_297),
    (35_328_427, 12_171_573),
]


def _hex_aoi_doc() -> dict:
    ring = [[x / 1_000_000, y / 1_000_000] for x, y in _HEX_AOI_MICRODEG]
    ring.append(ring[0])
    return {"type": "Polygon", "coordinates": [ring]}


def clip_states_to_geojson(spark: SparkSession, geojson, bounds: DataFrame | None = None) -> DataFrame:
    """Clip every served state to an ARBITRARY convex GeoJSON Polygon.

    ``geojson`` is a GeoJSON Polygon as a dict or JSON string. Returns
    (iso_code, state_name, clip_area2_microdeg2, area2_microdeg2,
    pct_in_poly_ppm, relation) with relation in
    {'within', 'intersects', 'disjoint'} — the ST_GeomFromGeoJSON →
    ST_Intersection/ST_Area/ST_Contains composition of the reference's
    spatial docs as one DataFrame call. Raises ValueError on a
    non-convex or degenerate query polygon (Sutherland-Hodgman is only
    exact on convex clip regions). ``bounds`` defaults to the served
    (offline) state table; the live GADM tier passes genuine geometry
    through the same clip kernel (r14)."""
    doc = json.loads(geojson) if isinstance(geojson, str) else geojson
    qpts = _convex_ring_microdeg(doc)
    if bounds is None:
        bounds = geo_states.sudan_boundaries(spark, "state")

    @F.pandas_udf("struct<clip2:bigint,area2:bigint>")
    def clip_of(gj: pd.Series) -> pd.DataFrame:
        out = []
        for g in gj:
            d = json.loads(g)
            a2, _p, _h = _geom_2area_and_parts(d)
            out.append({"clip2": _clip_2area_convex(d, qpts), "area2": a2})
        return pd.DataFrame(out)

    return (
        bounds.select("iso_code", "state_name", clip_of(F.col("geojson")).alias("c"))
        .select(
            "iso_code",
            "state_name",
            F.col("c.clip2").alias("clip_area2_microdeg2"),
            F.col("c.area2").alias("area2_microdeg2"),
            # same DECIMAL-exact integral-quotient emission as the box
            # entry: 1e6 * clip2 can pass int64, so multiply in DECIMAL
            F.expr(
                "cast(1000000 * cast(c.clip2 as decimal(19,0))"
                " div cast(c.area2 as decimal(19,0)) as bigint)"
            ).alias("pct_in_poly_ppm"),
            F.expr(
                "CASE WHEN c.clip2 = c.area2 THEN 'within'"
                " WHEN c.clip2 > 0 THEN 'intersects'"
                " ELSE 'disjoint' END"
            ).alias("relation"),
        )
        .orderBy("iso_code")
    )


def _geom_clip_geojson_oracle() -> str:
    import json as _json

    from duckdb_sudan__spark.oracle import values_sql

    qpts = _convex_ring_microdeg(_hex_aoi_doc())
    rows = []
    for i, (iso, name, _ar, _lon, _lat) in enumerate(geo_states.SUDAN_STATES):
        doc = _json.loads(geo_states.state_boundary_geojson(i))
        a2, _parts, _holes = _geom_2area_and_parts(doc)
        c2 = _oracle_clip_2area_convex(doc, qpts)
        rel = "within" if c2 == a2 else ("intersects" if c2 > 0 else "disjoint")
        rows.append((iso, name, c2, a2, 1_000_000 * c2 // a2, rel))
    return (
        values_sql(
            sorted(rows),
            ["iso_code", "state_name", "clip_area2_microdeg2",
             "area2_microdeg2", "pct_in_poly_ppm", "relation"],
            ["VARCHAR", "VARCHAR", "BIGINT", "BIGINT", "BIGINT", "VARCHAR"],
        )
        + " ORDER BY iso_code"
    )


def _register_geom_clip_geojson() -> None:
    @register("sudan_geom_clip_geojson", _geom_clip_geojson_oracle())
    def sudan_geom_clip_geojson(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The generic-polygon workflow pinned on a rotated hexagon AOI
        (every clip half-plane oblique — the branch the box entry never
        exercises). The public API is clip_states_to_geojson(spark,
        any_convex_polygon); this entry is its driver-hashed witness."""
        return clip_states_to_geojson(spark, _hex_aoi_doc())


_register_geom_clip_geojson()


# ---------------------------------------------------------------------------
# Concave clip tier (r13, VERDICT r12 item 4)
#
# Sutherland-Hodgman is only correct on CONVEX clip regions, so the
# convex tier above deliberately raises on a reflex vertex. A real
# GIS user's AOI (a drawn district, a flood outline) is routinely
# concave. The decomposition path: validate the ring as SIMPLE
# (non-self-intersecting), ear-clip it into triangles — every triangle
# IS convex — run the exact-Fraction S-H clip per triangle, and sum.
# The triangles PARTITION the polygon interior (disjoint except
# measure-zero shared edges), so on the microdeg grid the Fraction sum
# is exactly 2·area(geom ∩ polygon); ONE terminal round.
#
# All geometry below is exact integer/Fraction arithmetic — no floats,
# no epsilons. Parity target: the reference docs/functions.md
# arbitrary-AOI workflow (ST_GeomFromGeoJSON → ST_Intersection →
# ST_Area), which DuckDB spatial serves for any simple polygon.
#
# Scale: the AOI is a USER QUERY (tens of vertices) — triangulation is
# driver-side O(n²) on a tiny ring, then the T triangle half-plane
# sets broadcast in the UDF closure exactly like the convex tier's
# qpts; the per-state work is T small S-H clips inside the same
# one-Arrow-batch pandas UDF. No extra shuffle, no new plan shape.
# ---------------------------------------------------------------------------


def _cross3(o, a, b) -> int:
    """Exact integer orientation: >0 left turn, <0 right, 0 collinear."""
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def _on_segment(a, b, p) -> bool:
    """p collinear-with and within the closed bbox of segment a-b."""
    return (
        _cross3(a, b, p) == 0
        and min(a[0], b[0]) <= p[0] <= max(a[0], b[0])
        and min(a[1], b[1]) <= p[1] <= max(a[1], b[1])
    )


def _segments_intersect(p1, p2, p3, p4) -> bool:
    """Closed-segment intersection test, exact integers (CLRS 33.1)."""
    d1 = _cross3(p3, p4, p1)
    d2 = _cross3(p3, p4, p2)
    d3 = _cross3(p1, p2, p3)
    d4 = _cross3(p1, p2, p4)
    if ((d1 > 0) != (d2 > 0)) and d1 != 0 and d2 != 0 and ((d3 > 0) != (d4 > 0)) and d3 != 0 and d4 != 0:
        return True
    return (
        (d1 == 0 and _on_segment(p3, p4, p1))
        or (d2 == 0 and _on_segment(p3, p4, p2))
        or (d3 == 0 and _on_segment(p1, p2, p3))
        or (d4 == 0 and _on_segment(p1, p2, p4))
    )


def _simple_ring_microdeg(doc: dict) -> list[tuple[int, int]]:
    """Parse + validate a user GeoJSON Polygon as a SIMPLE (possibly
    concave) clip region on the integer microdegree grid. Returns the
    CCW vertex ring with collinear pass-through vertices removed.

    Raises ValueError on: non-Polygon type, holes, < 3 distinct
    vertices, zero area, repeated vertices, zero-angle spikes, or any
    self-intersection (two non-adjacent edges touching or crossing —
    exact integer tests, so a bowtie can never sneak through as
    'numerically simple')."""
    dedup = _parse_ring_microdeg(doc)
    # collinear pass-through vertices are redundant (drop); a 180°
    # spike (direction reversal) is degenerate geometry (reject)
    changed = True
    while changed and len(dedup) >= 3:
        changed = False
        for i in range(len(dedup)):
            o, v, b = dedup[i - 1], dedup[i], dedup[(i + 1) % len(dedup)]
            if _cross3(o, v, b) == 0:
                dot = (v[0] - o[0]) * (b[0] - v[0]) + (v[1] - o[1]) * (b[1] - v[1])
                if dot <= 0:
                    raise ValueError("query polygon has a zero-angle spike")
                del dedup[i]
                changed = True
                break
    if len(dedup) < 3:
        raise ValueError("query polygon needs >= 3 distinct vertices")
    s2 = 0
    for (x0, y0), (x1, y1) in zip(dedup, dedup[1:] + dedup[:1]):
        s2 += x0 * y1 - x1 * y0
    if s2 == 0:
        raise ValueError("query polygon is degenerate (zero area)")
    if s2 < 0:
        dedup.reverse()  # normalize to CCW
    n = len(dedup)
    for i in range(n):
        a, b = dedup[i], dedup[(i + 1) % n]
        for j in range(i + 1, n):
            if j == i or (j + 1) % n == i or (i + 1) % n == j:
                continue  # adjacent edges share a vertex by construction
            c, d = dedup[j], dedup[(j + 1) % n]
            if _segments_intersect(a, b, c, d):
                raise ValueError(
                    "query polygon is self-intersecting (not a simple ring)"
                )
    return dedup


def _in_triangle_closed(a, b, c, p) -> bool:
    """p inside-or-on the CCW triangle abc, exact integers."""
    return _cross3(a, b, p) >= 0 and _cross3(b, c, p) >= 0 and _cross3(c, a, p) >= 0


def _in_triangle_strict(a, b, c, p) -> bool:
    """p strictly inside the CCW triangle abc, exact integers."""
    return _cross3(a, b, p) > 0 and _cross3(b, c, p) > 0 and _cross3(c, a, p) > 0


def _triangulate_ear(ring: list[tuple[int, int]]) -> list[tuple]:
    """Ear-clipping triangulation of a simple CCW ring (collinear
    vertices already removed) into n-2 CCW triangles that PARTITION its
    interior. O(n³) worst case — the ring is a user AOI of tens of
    vertices, never data. Meisters' two-ears theorem guarantees
    progress on every simple polygon under the STRICT containment test;
    the closed-triangle test is tried first (it keeps every diagonal
    strictly interior) and the strict-interior test is the fallback for
    rings where every closed-test ear is blocked only by a vertex
    exactly ON a candidate diagonal (ADVICE r13: that state is
    reachable, not 'unreachable'). Either way the partition is
    certified by an exact invariant at the end: the triangle 2-areas
    must sum to the ring's shoelace 2-area — integer-exact, so an
    invalid fallback partition raises loudly instead of mis-clipping."""
    idx = list(range(len(ring)))
    tris: list[tuple] = []
    while len(idx) > 3:
        n = len(idx)
        found = False
        for contains in (_in_triangle_closed, _in_triangle_strict):
            for k in range(n):
                ia, ib, ic = idx[(k - 1) % n], idx[k], idx[(k + 1) % n]
                a, b, c = ring[ia], ring[ib], ring[ic]
                if _cross3(a, b, c) <= 0:
                    continue  # reflex (or collinear-degenerate) corner: not an ear
                if any(
                    contains(a, b, c, ring[j])
                    for j in idx
                    if j not in (ia, ib, ic)
                ):
                    continue
                tris.append((a, b, c))
                del idx[k]
                found = True
                break
            if found:
                break
        if not found:
            raise ValueError("ear clipping found no ear (degenerate polygon)")
    tris.append((ring[idx[0]], ring[idx[1]], ring[idx[2]]))
    s2 = 0
    for (x0, y0), (x1, y1) in zip(ring, ring[1:] + ring[:1]):
        s2 += x0 * y1 - x1 * y0
    tri2 = sum(_cross3(a, b, c) for a, b, c in tris)
    if tri2 != s2:
        raise ValueError(
            f"ear-clipping partition is not area-additive ({tri2} != {s2})"
        )
    return tris


def _clip_2area_simple(doc: dict, tris) -> int:
    """round(2 · area(geom ∩ simple polygon)) via the triangle
    partition: exact-Fraction S-H clip per (convex) triangle, Fraction
    sum across triangles, ONE terminal round."""
    from fractions import Fraction

    total = Fraction(0)
    for tri in tris:
        total += _clip_2area_convex_frac(doc, list(tri))
    return round(total)


def _oracle_clip_2area_simple(doc: dict, tris) -> int:
    """Independently-coded twin: the reversed-edge-order two-line-
    determinant trapezoid clipper summed over the same triangulation."""
    from fractions import Fraction

    total = Fraction(0)
    for tri in tris:
        total += _oracle_clip_2area_convex_frac(doc, list(tri))
    return round(total)


# The registered entry's AOI: a 10-vertex star outline over central
# Sudan (alternating ~4.8° outer / ~2.1° inner radius, rotated so no
# edge is axis-aligned). Every inner vertex is REFLEX — the polygon
# the convex tier rejects by design — and the star shape makes the
# triangulation non-fan (ears must skip reflex corners). Vertices are
# exact microdegree integers; the GeoJSON doc round-trips bit-exactly.
_STAR_AOI_MICRODEG = [
    (37_163_119, 16_459_627),
    (33_697_122, 16_256_627),
    (31_952_231, 19_259_877),
    (31_081_458, 15_899_701),
    (27_715_966, 15_028_424),
    (30_646_890, 13_205_924),
    (30_382_175, 9_744_373),
    (33_015_614, 12_006_174),
    (36_226_907, 10_690_123),
    (34_967_885, 13_925_299),
]


def _star_aoi_doc() -> dict:
    ring = [[x / 1_000_000, y / 1_000_000] for x, y in _STAR_AOI_MICRODEG]
    ring.append(ring[0])
    return {"type": "Polygon", "coordinates": [ring]}


def clip_states_to_simple_geojson(
    spark: SparkSession, geojson, bounds: DataFrame | None = None
) -> DataFrame:
    """Clip every served state to an ARBITRARY SIMPLE GeoJSON Polygon —
    convex OR concave. Same output contract as clip_states_to_geojson
    (iso_code, state_name, clip_area2_microdeg2, area2_microdeg2,
    pct_in_poly_ppm, relation). Convex rings take the single-pass S-H
    path; concave rings are ear-clipped into triangles driver-side and
    the exact per-triangle clips are summed. Raises ValueError on a
    self-intersecting, holed, or degenerate ring. ``bounds`` defaults
    to the served (offline) state table; the live GADM tier passes
    genuine geometry through the same kernels (r14)."""
    doc = json.loads(geojson) if isinstance(geojson, str) else geojson
    # SIMPLICITY is the precondition for BOTH paths (r13 review: routing
    # through the convex validator first let a self-touching ring the
    # simple validator rejects take the convex fast path) — validate
    # simple unconditionally, then pick the fast path if also convex.
    ring = _simple_ring_microdeg(doc)
    try:
        qpts = _convex_ring_microdeg(doc)
        tris = None
    except NotConvexError:
        tris = _triangulate_ear(ring)
        qpts = None
    if bounds is None:
        bounds = geo_states.sudan_boundaries(spark, "state")

    @F.pandas_udf("struct<clip2:bigint,area2:bigint>")
    def clip_of(gj: pd.Series) -> pd.DataFrame:
        out = []
        for g in gj:
            d = json.loads(g)
            a2, _p, _h = _geom_2area_and_parts(d)
            c2 = (
                _clip_2area_convex(d, qpts)
                if qpts is not None
                else _clip_2area_simple(d, tris)
            )
            out.append({"clip2": c2, "area2": a2})
        return pd.DataFrame(out)

    return (
        bounds.select("iso_code", "state_name", clip_of(F.col("geojson")).alias("c"))
        .select(
            "iso_code",
            "state_name",
            F.col("c.clip2").alias("clip_area2_microdeg2"),
            F.col("c.area2").alias("area2_microdeg2"),
            F.expr(
                "cast(1000000 * cast(c.clip2 as decimal(19,0))"
                " div cast(c.area2 as decimal(19,0)) as bigint)"
            ).alias("pct_in_poly_ppm"),
            F.expr(
                "CASE WHEN c.clip2 = c.area2 THEN 'within'"
                " WHEN c.clip2 > 0 THEN 'intersects'"
                " ELSE 'disjoint' END"
            ).alias("relation"),
        )
        .orderBy("iso_code")
    )


def _geom_clip_concave_oracle() -> str:
    import json as _json

    from duckdb_sudan__spark.oracle import values_sql

    tris = _triangulate_ear(_simple_ring_microdeg(_star_aoi_doc()))
    rows = []
    for i, (iso, name, _ar, _lon, _lat) in enumerate(geo_states.SUDAN_STATES):
        doc = _json.loads(geo_states.state_boundary_geojson(i))
        a2, _parts, _holes = _geom_2area_and_parts(doc)
        c2 = _oracle_clip_2area_simple(doc, tris)
        rel = "within" if c2 == a2 else ("intersects" if c2 > 0 else "disjoint")
        rows.append((iso, name, c2, a2, 1_000_000 * c2 // a2, rel))
    return (
        values_sql(
            sorted(rows),
            ["iso_code", "state_name", "clip_area2_microdeg2",
             "area2_microdeg2", "pct_in_poly_ppm", "relation"],
            ["VARCHAR", "VARCHAR", "BIGINT", "BIGINT", "BIGINT", "VARCHAR"],
        )
        + " ORDER BY iso_code"
    )


def _register_geom_clip_concave() -> None:
    @register("sudan_geom_clip_concave", _geom_clip_concave_oracle())
    def sudan_geom_clip_concave(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The arbitrary-AOI workflow on a CONCAVE polygon: a 10-vertex
        star whose 5 reflex corners the convex tier rejects by design.
        The public API is clip_states_to_simple_geojson(spark,
        any_simple_polygon); this entry is its driver-hashed witness
        (oracle: the independently-coded trapezoid clipper summed over
        the same ear-clipping triangulation)."""
        return clip_states_to_simple_geojson(spark, _star_aoi_doc())


_register_geom_clip_concave()


# ---------------------------------------------------------------------------
# LIVE GADM tier (r14 — VERDICT r13 item 5): the whole geo stack on
# GENUINE boundaries, behind a capability probe. The MERGE/JPEG
# pattern: probe (geo_states.gadm_capabilities — cheap TCP
# reachability, never raises), loud raise (live_gadm_state_rows —
# install/egress guidance, never a silent fake), conditional
# registration (the entry exists exactly where the network does, so a
# networked cluster runs point-in-state + both clip tiers on real
# GADM v4.1 geometry with ZERO code changes). This container has no
# network: the offline Voronoi tier stays the driver-hashed surface.
# ---------------------------------------------------------------------------


def live_gadm_state_rows() -> list[tuple[str, str, str]]:
    """(iso_code, state_name, geojson) with GENUINE GADM v4.1 level-1
    geometry. Raises RuntimeError with egress guidance when the fetch
    fails or no state matches — loud, never a silent fallback to the
    synthetic placeholder (that would let a misconfigured cluster
    report placeholder areas as real ones)."""
    from duckdb_sudan__spark.providers import http as provider_http

    doc = provider_http.http_get_json(geo_states.GADM_STATE_URL)
    rows = geo_states.parse_gadm_states(doc) if doc is not None else []
    live = [(iso, name, gj) for (name, _ar, iso, gj) in rows if gj]
    if not live:
        raise RuntimeError(
            "live GADM geometry unavailable: could not fetch/parse "
            f"{geo_states.GADM_STATE_URL} (needs egress to "
            "geodata.ucdavis.edu:443). The offline tier "
            "(sudan_boundaries(..., offline=True)) serves the synthetic "
            "Voronoi placeholder with the identical schema and kernels."
        )
    return live


def _register_live_gadm_tier() -> bool:
    """Conditionally register the live-geometry composition. Factored
    out so the gate itself is unit-tested in environments with AND
    without network (tests/test_geo.py::test_gadm_gate_*), mirroring
    streaming.register._register_tws_tier."""
    if not geo_states.gadm_capabilities()["any"]:
        return False

    @register("sudan_geo_live_gadm")  # rows-only: live fetch is not SQL
    def sudan_geo_live_gadm(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The full §A geo stack on GENUINE GADM boundaries: per state,
        (a) does the public centroid land inside the real polygon
        (ray-cast kernel), (b) convex-AOI clip share, (c) concave
        star-AOI clip share — all three kernels identical to the
        offline tier, only the geometry differs. Output is one row per
        GADM-matched state."""
        live = live_gadm_state_rows()
        bounds = local_frame(
            spark, live, "iso_code string, state_name string, geojson string"
        )
        rings = [(iso, _geometry_edges(json.loads(gj))) for iso, _name, gj in live]
        probes = local_frame(
            spark,
            [
                (iso, lon, lat)
                for iso, _name, _ar, lon, lat in geo_states.SUDAN_STATES
            ],
            "probe_iso string, lon double, lat double",
        )
        assigned = assign_points_to_states(probes, rings=rings).select(
            F.col("probe_iso").alias("iso_code"),
            (F.col("iso_code") == F.col("probe_iso")).alias("centroid_inside_own"),
        )
        convex = clip_states_to_geojson(spark, _hex_aoi_doc(), bounds=bounds).select(
            "iso_code", "state_name",
            F.col("pct_in_poly_ppm").alias("hex_clip_ppm"),
            F.col("area2_microdeg2").alias("area2_microdeg2"),
        )
        concave = clip_states_to_simple_geojson(
            spark, _star_aoi_doc(), bounds=bounds
        ).select("iso_code", F.col("pct_in_poly_ppm").alias("star_clip_ppm"))
        return (
            convex.join(concave, ["iso_code"])
            .join(F.broadcast(assigned), ["iso_code"], "left")
            .select(
                "iso_code", "state_name", "area2_microdeg2",
                "hex_clip_ppm", "star_clip_ppm", "centroid_inside_own",
            )
            .orderBy("iso_code")
        )

    return True


GADM_LIVE_REGISTERED = _register_live_gadm_tier()
