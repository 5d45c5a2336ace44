"""Spatial joins: point-in-polygon and kNN, as DataFrame joins (north rule).

Both use the cell index as a *spatial index expressed as an equi-join*
(SURVEY.md §4): a cheap cell-cover prefilter join with the small (polygon /
query) side broadcast, then an exact refine step — ray-casting for PIP,
distance re-rank for kNN — entirely in JVM column expressions (higher-order
array functions), so the hot path never leaves whole-stage codegen.

Scale notes (100 TB / 10^12 rows):
- the polygon side is broadcast (mandated by BASELINE.json north_star); the
  big point/image side is never shuffled for PIP — prefilter is a broadcast
  hash join, refine is a projection.
- kNN shuffles only unfinished queries per round (iterative ring doubling);
  candidate sets stay bounded by ring size x local density.
- hot cells: see operators/skew.py (salted repartition); AQE skew-join is the
  configured backstop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.cells import (
    DEFAULT_RES,
    SPAN_X,
    SPAN_Y,
    cell_from_xy,
    cover_rect,
    k_ring,
    sql_any,
    sql_cell_bounds,
    sql_count,
    sql_double,
    sql_map,
    sql_operand,
)


def sql_ring_bbox(ring, dialect: str = "spark") -> tuple[str, str, str, str]:
    """(xmin, ymin, xmax, ymax) of an array<struct<x,y>> ring."""
    r = sql_operand(ring)
    lo, hi = ("list_min", "list_max") if dialect == "duckdb" else ("array_min", "array_max")
    xs, ys = sql_map(r, "v", "v.x", dialect), sql_map(r, "v", "v.y", dialect)
    return f"{lo}({xs})", f"{lo}({ys})", f"{hi}({xs})", f"{hi}({ys})"


def sql_ring_edges(ring, dialect: str = "spark") -> str:
    """array<struct<x,y>> closed ring -> array<struct<ax,ay,bx,by>> DOUBLE
    edges: the one edge construction every geometry predicate shares (a
    fix to edge handling must not be able to diverge between predicates)."""
    r = sql_operand(ring)
    if dialect == "duckdb":
        a, b = f"{r}[edge_i]", f"{r}[edge_i + 1]"
    else:
        a, b = "edge_a", "edge_b"
    fields = [(f"a{c}", f"CAST({a}.{c} AS DOUBLE)") for c in "xy"]
    fields += [(f"b{c}", f"CAST({b}.{c} AS DOUBLE)") for c in "xy"]
    if dialect == "duckdb":
        edge = "struct_pack(" + ", ".join(f"{k} := {v}" for k, v in fields) + ")"
        return sql_map(f"generate_series(1, len({r}) - 1)", "edge_i", edge, dialect)
    edge = "named_struct(" + ", ".join(f"'{k}', {v}" for k, v in fields) + ")"
    return (
        f"zip_with(slice({r}, 1, size({r}) - 1), slice({r}, 2, size({r}) - 1), "
        f"(edge_a, edge_b) -> {edge})"
    )


def sql_point_in_ring(px, py, ring, dialect: str = "spark") -> str:
    """Exact ray-casting (odd crossings).

    ring: array<struct<x,y>> closed (first == last vertex). An edge (a, b)
    crosses the rightward ray from (px, py) iff (a.y > py) != (b.y > py) and
    px < (b.x - a.x) * (py - a.y) / (b.y - a.y) + a.x.
    """
    px, py = sql_double(px), sql_double(py)
    crosses = (
        f"(edge.ay > {py}) <> (edge.by > {py}) AND "
        f"{px} < (edge.bx - edge.ax) * ({py} - edge.ay) / (edge.by - edge.ay) + edge.ax"
    )
    return f"({sql_count(sql_ring_edges(ring, dialect), 'edge', crosses, dialect)} % 2 = 1)"


def point_in_ring(px, py, ring) -> Column:
    """sql_point_in_ring as a Spark Column (operands: SQL text or F.col)."""
    return F.expr(sql_point_in_ring(px, py, ring))


def sql_full_cell(cell, ring, dialect: str = "spark") -> str:
    """The cell rectangle provably lies entirely inside the polygon: all 4
    corners contained AND no edge's bbox touches the cell. Conservative:
    any boundary contact, including degenerate corner/collinear touches
    that a proper-crossing test would miss, demotes the cell to partial.
    An edge whose bbox overlaps the cell MIGHT touch it (proper crossings,
    vertices inside, degenerate contact); with no such edge and a corner
    inside, the whole cell is interior (the boundary cannot enter without
    an edge point in the cell)."""
    cell, ring = sql_operand(cell), sql_operand(ring)
    x0, y0, x1, y1 = sql_cell_bounds(cell, dialect)
    corners = " AND ".join(
        sql_point_in_ring(x, y, ring, dialect) for x, y in ((x0, y0), (x0, y1), (x1, y0), (x1, y1))
    )
    near = (
        f"LEAST(edge.ax, edge.bx) <= {x1} AND GREATEST(edge.ax, edge.bx) >= {x0} AND "
        f"LEAST(edge.ay, edge.by) <= {y1} AND GREATEST(edge.ay, edge.by) >= {y0}"
    )
    return f"({corners} AND NOT {sql_any(sql_ring_edges(ring, dialect), 'edge', near, dialect)})"


def polygon_cells(
    polygons: DataFrame, res: int = DEFAULT_RES, classify_full: bool = False
) -> DataFrame:
    """(poly_id, ring, ...) -> exploded (cell, poly_id, ring): the prefilter
    side. Bbox cover is a superset of the exact polygon cover, so the
    prefilter never loses a true match.

    classify_full=True adds a `full` boolean per (poly, cell) (sql_full_cell).
    Points prefiltered into a full cell are definite hits and skip the exact
    refine — the partial/full-cell split of the Raster Intervals
    polygon-intersection prefilter (SIGMOD 2023, see PAPERS.md). A false
    'partial' only costs a ray-cast, never correctness; interior cells (the
    ones that dominate as resolution grows) stay full."""
    out = polygons.withColumn("cell", F.explode(cover_rect(*sql_ring_bbox("ring"), res)))
    if not classify_full:
        return out
    return out.withColumn("full", F.expr(sql_full_cell("cell", "ring")))


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = DEFAULT_RES,
    x: str = "x",
    y: str = "y",
    broadcast_polygons: bool = True,
) -> DataFrame:
    """All (point, polygon) containment pairs.

    Plan shape (default): big side gets `cell` (pure expr) -> broadcast hash
    join with the exploded polygon-cell table -> ray-cast refine as a filter.
    One scan, zero shuffles of the point side.

    broadcast_polygons=False is the scale path for polygon sides too big to
    broadcast (continental-coverage polygon sets at 10^12 rows): both sides
    shuffle on `cell` and Catalyst picks shuffled-hash/sort-merge; results are
    identical (pinned by test), only the physical distribution changes. Pair
    with operators/skew.py salting when single cells are hot.
    """
    pts = points.withColumn("cell", cell_from_xy(x, y, res))
    # full-cell classification: points landing in a cell entirely inside the
    # polygon skip the ray-cast (codegen short-circuits the OR per row)
    poly = polygon_cells(polygons, res, classify_full=True)
    if broadcast_polygons:
        poly = F.broadcast(poly)
    cand = pts.join(poly, "cell")
    return cand.filter(
        F.expr(f"`full` OR {sql_point_in_ring(x, y, 'ring')}")
    ).drop("cell", "ring", "full")


def within_distance_join(
    queries: DataFrame,
    points: DataFrame,
    d: float,
    res: int = DEFAULT_RES,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Distance-band (range) join: all (query, point) pairs with Euclidean
    distance <= d. Returns (query_id, point_id, dist).

    Plan shape: the small query side is exploded to the cell cover of each
    query's d-disk bounding box and broadcast; the big point side computes its
    single cell (pure expr) and broadcast-hash-joins — zero shuffles of the
    point side, exact distance filter as a projection. A point lies in exactly
    one cell and the cover array has distinct cells, so no pair dedup is
    needed. At 10^12 scale the candidate count is bounded by disk area x local
    point density (the same prefilter-superset argument as PIP: the d-disk's
    bbox cover contains the cell of every point within distance d).
    """
    from ..functions.cells import cover_rect_closed

    d = sql_double(d)
    # closed cover: the predicate is inclusive (dist <= d), so a point at
    # exactly x == qx + d must have its cell in the prefilter
    q = queries.selectExpr("query_id", f"{x} AS qx", f"{y} AS qy").withColumn(
        "cell",
        F.explode(cover_rect_closed(f"qx - {d}", f"qy - {d}", f"qx + {d}", f"qy + {d}", res)),
    )
    pts = points.withColumn("cell", cell_from_xy(x, y, res))
    dist = f"SQRT(({x} - qx) * ({x} - qx) + ({y} - qy) * ({y} - qy))"
    return (
        pts.join(F.broadcast(q), "cell")
        .withColumn("dist", F.expr(dist))
        .filter(f"dist <= {d}")
        .drop("cell", "qx", "qy")
    )


def within_distance_km_join(
    queries: DataFrame,
    points: DataFrame,
    d_km: float,
    res: int = DEFAULT_RES,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Geodesic distance-band join: all (query, point) pairs within d_km
    great-circle km (haversine on the mean sphere). Same plan shape as
    within_distance_join — broadcast closed cell cover of each query's disk
    bbox, point side unshuffled — but the bbox half-extents are the proven
    spherical superset bounds from functions.geo.sql_disk_margins_deg
    (latitude-dependent longitude margin; clamps to full-longitude near the
    poles), and intervals crossing the +-180 antimeridian additionally cover
    the wrapped remainder (haversine wraps; a planar clip would silently drop
    wrapped-close pairs). Returns (query_id, point_id, dist_km).
    """
    from ..functions.cells import sql_cover
    from ..functions.geo import haversine_km, sql_disk_margins_deg

    dlat, dlon = sql_disk_margins_deg("qy", d_km)
    ylo, yhi = f"qy - {dlat}", f"qy + {dlat}"
    w, e = sql_double(-180.0), sql_double(180.0)
    turn = sql_double(360.0)

    def cover(xmin: str, xmax: str) -> str:
        return sql_cover(xmin, ylo, xmax, yhi, res, "closed")

    # antimeridian wrap: the haversine's sin^2(dlon/2) term has period 360,
    # so a disk crossing +-180 continues on the far side of the x domain —
    # the cover is the clamped primary interval plus the wrapped remainder(s)
    empty = "CAST(array() AS array<bigint>)"
    primary = cover(f"qx - {dlon}", f"qx + {dlon}")
    wrap_w = f"CASE WHEN qx - {dlon} < {w} THEN {cover(f'qx - {dlon} + {turn}', e)} ELSE {empty} END"
    wrap_e = f"CASE WHEN qx + {dlon} > {e} THEN {cover(w, f'qx + {dlon} - {turn}')} ELSE {empty} END"
    q = queries.selectExpr("query_id", f"{x} AS qx", f"{y} AS qy").withColumn(
        "cell", F.expr(f"explode(array_distinct(concat({primary}, {wrap_w}, {wrap_e})))")
    )
    pts = points.withColumn("cell", cell_from_xy(x, y, res))
    return (
        pts.join(F.broadcast(q), "cell")
        .withColumn("dist_km", haversine_km(F.col("qy"), F.col("qx"), F.col(y), F.col(x)))
        .filter(F.col("dist_km") <= F.lit(d_km))
        .drop("cell", "qx", "qy")
    )


def _orient(ax, ay, bx, by, px, py) -> str:
    """Signed area orientation of (a -> b -> p); same expression text as the
    DuckDB oracle so float results are bit-identical."""
    return f"(({bx} - {ax}) * ({py} - {ay}) - ({by} - {ay}) * ({px} - {ax}))"


def _seg_cross(ax, ay, bx, by, cx, cy, dx, dy) -> str:
    """Proper (strict) segment intersection of (a,b) x (c,d): each segment's
    endpoints lie strictly on opposite sides of the other's line."""
    o1 = _orient(ax, ay, bx, by, cx, cy)
    o2 = _orient(ax, ay, bx, by, dx, dy)
    o3 = _orient(cx, cy, dx, dy, ax, ay)
    o4 = _orient(cx, cy, dx, dy, bx, by)
    return f"({o1} * {o2} < 0 AND {o3} * {o4} < 0)"


def rect_intersects_ring(xmin, ymin, xmax, ymax, ring) -> Column:
    """Exact rect x simple-polygon intersection as one Spark SQL expression
    (operands: SQL text, F.col references or F.expr Columns).

    True iff (a) any polygon vertex is inside the closed rect (covers
    polygon-in-rect and partial overlap), or (b) any rect corner is inside
    the polygon (covers rect-in-polygon), or (c) any polygon edge properly
    crosses any rect edge (boundary crossings with no vertex containment),
    or (d) any rect corner lies exactly ON a polygon edge. Case (d) closes
    the degenerate tangency gap the first three miss: an edge passing
    exactly through a rect corner has no vertex in the rect, no strict
    crossing (the orientation is 0), and an undefined ray-cast for the
    on-boundary corner; any longer collinear contact also passes through a
    corner or puts a vertex in the closed rect, so (a)-(d) are exhaustive
    for simple polygons including touch-degenerate contact. The DuckDB
    oracle states the identical four cases with the same expression text.
    """
    xmin, ymin, xmax, ymax, ring = (sql_operand(v) for v in (xmin, ymin, xmax, ymax, ring))
    corners = ((xmin, ymin), (xmin, ymax), (xmax, ymin), (xmax, ymax))
    vert_in_rect = sql_any(
        ring, "v", f"v.x >= {xmin} AND v.x <= {xmax} AND v.y >= {ymin} AND v.y <= {ymax}"
    )
    corner_in_poly = " OR ".join(sql_point_in_ring(px, py, ring) for px, py in corners)
    ax, ay, bx, by = "edge.ax", "edge.ay", "edge.bx", "edge.by"
    rect_sides = ((xmin, ymin, xmax, ymin), (xmax, ymin, xmax, ymax),
                  (xmax, ymax, xmin, ymax), (xmin, ymax, xmin, ymin))
    crosses_rect_edge = " OR ".join(_seg_cross(ax, ay, bx, by, *side) for side in rect_sides)
    corner_on_edge = " OR ".join(
        f"({_orient(ax, ay, bx, by, px, py)} = 0"
        f" AND {px} >= LEAST({ax}, {bx}) AND {px} <= GREATEST({ax}, {bx})"
        f" AND {py} >= LEAST({ay}, {by}) AND {py} <= GREATEST({ay}, {by}))"
        for px, py in corners
    )
    edges = sql_ring_edges(ring)
    return F.expr(
        f"{vert_in_rect} OR {corner_in_poly} OR {sql_any(edges, 'edge', crosses_rect_edge)}"
        f" OR {sql_any(edges, 'edge', corner_on_edge)}"
    )


def footprint_polygon_join(
    images_with_meta: DataFrame, polygons: DataFrame, res: int = DEFAULT_RES
) -> DataFrame:
    """Raster-footprint x polygon overlap join: (image_id, poly_id) pairs whose
    GeoTIFF footprint rectangle intersects the polygon (exact test).

    Prefilter: footprint cell cover equi-joined with the broadcast polygon
    bbox cell cover. The footprint side uses the TOUCH-INCLUSIVE cover
    (cover_rect_touch): the exact rect_intersects_ring refine uses closed
    comparisons, so a footprint that merely touches the polygon on a shared
    cell boundary is a match — a half-open footprint cover could place the
    two geometries in disjoint cell sets and drop that boundary-degenerate
    pair before the refine ever sees it, in either touch direction. With the
    polygon side as the ordinary half-open bbox cover and the footprint side
    touch-inclusive, overlapping-or-touching geometries always share >= 1
    cell — lossless. Candidates deduped on (image_id, poly_id), then the
    exact rect-x-ring refine runs as a JVM filter. The image side is never
    shuffled before the (tiny, post-prefilter) dedup.
    """
    from ..functions.cells import cover_rect_touch
    from .chunks import footprint

    rect = ("fp_xmin", "fp_ymin", "fp_xmax", "fp_ymax")
    fp = footprint(images_with_meta)
    fp_cells = fp.withColumn("cell", F.explode(cover_rect_touch(*rect, res))).select(
        "image_id", *rect, "cell"
    )
    poly = F.broadcast(polygon_cells(polygons, res).select("cell", "poly_id", "ring"))
    cand = fp_cells.join(poly, "cell").dropDuplicates(["image_id", "poly_id"])
    return cand.filter(rect_intersects_ring(*rect, "ring")).select("image_id", "poly_id")


def footprint_overlap_join(
    images_with_meta: DataFrame, res: int = DEFAULT_RES, pad: float = 0.0
) -> DataFrame:
    """Image x image footprint SELF-join: (image_a, image_b, olap_w, olap_h)
    for every pair (image_a < image_b) whose footprint rectangles STRICTLY
    overlap, or — with pad > 0 — come within an L-inf gap < pad degrees
    (a distance-buffered spatial join; pad = 0 is pure overlap).

    The raster-x-raster sibling of footprint_polygon_join: each footprint is
    exploded to its cell cover once and the candidate set is a cell
    equi-join of the cover with itself — never a cross join. The a-side
    cover is dilated by the FULL pad (equivalent to pad/2 per side for the
    pairwise test, but keeps the b-side cover and the refine inputs raw):
    if the padded test passes, rect_a dilated by pad strictly intersects
    rect_b, so their half-open covers share the cell of an interior point
    of the intersection — the prefilter is lossless. The exact test then
    runs as a JVM filter on the candidates.

    olap_w/olap_h are the raw (unpadded) overlap extents; NEGATIVE values
    are the gap between near-but-disjoint footprints when pad > 0.

    Scale shape (10^12 images): one explode (cover cells per image is O(1)
    at fixed res vs footprint size), one shuffle on `cell` (near-uniform for
    geo-distributed footprints; hot cells -> operators/skew.py salting or
    AQE skew-join), candidate dedup on the (a, b) ID pair only. The bbox
    columns ride along (4 doubles) so no second join reattaches geometry.
    """
    from .chunks import footprint

    fp = footprint(images_with_meta).select(
        "image_id", "fp_xmin", "fp_ymin", "fp_xmax", "fp_ymax"
    )
    p = F.lit(float(pad))
    ps = sql_double(pad)
    a = fp.withColumn(
        "cell",
        F.explode(
            cover_rect(f"fp_xmin - {ps}", f"fp_ymin - {ps}", f"fp_xmax + {ps}", f"fp_ymax + {ps}", res)
        ),
    ).select(
        "cell", F.col("image_id").alias("image_a"),
        F.col("fp_xmin").alias("ax0"), F.col("fp_ymin").alias("ay0"),
        F.col("fp_xmax").alias("ax1"), F.col("fp_ymax").alias("ay1"),
    )
    b = fp.withColumn(
        "cell", F.explode(cover_rect("fp_xmin", "fp_ymin", "fp_xmax", "fp_ymax", res))
    ).select(
        "cell", F.col("image_id").alias("image_b"),
        F.col("fp_xmin").alias("bx0"), F.col("fp_ymin").alias("by0"),
        F.col("fp_xmax").alias("bx1"), F.col("fp_ymax").alias("by1"),
    )
    cand = (
        a.join(b, "cell")
        .filter(F.col("image_a") < F.col("image_b"))
        .drop("cell")
        .dropDuplicates(["image_a", "image_b"])
    )
    # exact refine (pad applied once per axis: ax0 - pad/2 < bx1 + pad/2
    # <=> ax0 < bx1 + pad) + overlap extent, computed in a pinned op order
    # (least(max) - greatest(min)) mirrored verbatim by the oracle
    olap_w = F.least("ax1", "bx1") - F.greatest("ax0", "bx0")
    olap_h = F.least("ay1", "by1") - F.greatest("ay0", "by0")
    return (
        cand.filter(
            (F.col("ax0") < F.col("bx1") + p) & (F.col("bx0") < F.col("ax1") + p)
            & (F.col("ay0") < F.col("by1") + p) & (F.col("by0") < F.col("ay1") + p)
        )
        .withColumn("olap_w", olap_w)
        .withColumn("olap_h", olap_h)
        .select("image_a", "image_b", "olap_w", "olap_h")
    )


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    res: int = DEFAULT_RES,
    metric: str = "euclidean",
    cleanup: bool = False,
) -> DataFrame:
    """k nearest points for each query row: (query_id, neighbor_id, rank, dist).

    H3-style k-ring prefilter with a distance-bounded re-rank: join queries
    against points whose cell lies in ring(query_cell, r) at a density-chosen
    radius, rank by exact Euclidean distance, and finalize a query when its
    k-th neighbor is provably inside the guaranteed radius r * min(cell_w,
    cell_h) (any point outside the ring is farther). The few unfinished
    queries (sparse neighborhoods) fall back to an exact broadcast re-rank
    against all points — the unfinished side is broadcast, the point side is
    scanned once more with no shuffle, so at 10^12 scale the expensive path
    is bounded by ring size x local density and the fallback by the (tiny)
    unfinished-query count. Deterministic tie-break: (dist, neighbor_id).

    metric="haversine" ranks by great-circle km; the finalization bound then
    uses the spherical lower bounds for points outside the ring (latitude
    case: central angle >= lat diff; longitude case: sin(x) >= 2x/pi at the
    worst latitude of the ring band — see functions/geo.py) as a per-query
    column, so near-pole queries finalize conservatively and fall back to
    the exact scan when the bound cannot certify k neighbors.

    CACHE LIFECYCLE: the operator persists the point projection, the
    queries, and the ring candidates and finished ids; like Spark's own
    .cache(), the CALLER owns their lifetime. cleanup=False (default) leaves them
    cached — identical repeated invocations then reuse them via logical-
    plan matching (measured ~40%% faster on a re-run), which suits one-shot
    jobs and benchmarks but pins executor storage until the app ends.
    cleanup=True eagerly materializes the small (queries x k) result via
    localCheckpoint and unpersists every intermediate before returning —
    use it from long-lived applications that call knn_join repeatedly.
    """
    import math

    from pyspark.sql import Window

    n = 1 << res
    cell_w, cell_h = SPAN_X / n, SPAN_Y / n
    safe_per_ring = min(cell_w, cell_h)

    # repartition on persist: a small dim-table scan can arrive as one input
    # split, which would serialize the fallback nested-loop join; at scale the
    # point side is many splits already and this is a no-op cost-wise
    par = points.sparkSession.sparkContext.defaultParallelism
    pts = points.select(
        F.col("point_id").alias("neighbor_id"),
        F.col("x").alias("px"),
        F.col("y").alias("py"),
        cell_from_xy("x", "y", res).alias("cell"),
    ).repartition(par).persist()
    n_points = pts.count()
    pending = queries.select(
        "query_id", F.col("x").alias("qx"), F.col("y").alias("qy"),
        cell_from_xy("x", "y", res).alias("qcell"),
    ).persist()

    # density-based radius: finalization needs the k-th neighbor inside the
    # ring's *inscribed* safe circle (radius * min cell span), so size the
    # ring for ~3k expected points within that circle (not just the square)
    density = max(n_points / float(n * n), 1e-9)  # points per cell
    aspect = min(cell_w, cell_h) / max(cell_w, cell_h)
    radius = max(1, min(n, math.ceil(math.sqrt(3.0 * k / (math.pi * aspect * density)))))

    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    if metric == "haversine":
        from ..functions.geo import haversine_km

        dist = haversine_km(F.col("qy"), F.col("qx"), F.col("py"), F.col("px"))
    else:
        dist = F.sqrt(
            (F.col("px") - F.col("qx")) * (F.col("px") - F.col("qx"))
            + (F.col("py") - F.col("qy")) * (F.col("py") - F.col("qy"))
        )

    def rank_candidates(cand: DataFrame) -> DataFrame:
        return (
            cand.withColumn("dist", dist)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    ringed = pending.withColumn("cell", F.explode(k_ring("qcell", radius)))
    ranked = rank_candidates(ringed.join(pts, "cell")).persist()
    if metric == "haversine":
        from ..functions.geo import EARTH_RADIUS_KM as _R

        # lat case: a point outside the ring in latitude differs by
        # >= radius*cell_h deg, and central angle >= lat diff (exact)
        lat_bound = _R * math.radians(radius * cell_h)
        # lon case: the point's latitude can be up to (radius+1)*cell_h
        # from qy (query anywhere in its cell, point anywhere in the
        # outermost ring row), and its TRUE angular separation is
        # min(planar dx, 360 - dx): planar dx >= radius*cell_w, but a
        # wrapped point (dx > 180) can be as angular-close as
        # 180 - |qx| deg — cap the exclusion angle by that, so near the
        # antimeridian the bound shrinks and queries fall back to the
        # exact scan instead of certifying unsoundly
        # clamp at 90 (not an arbitrary 89.9): points can sit above any
        # sub-90 clamp, and cos(90) -> 0 bound -> no certification ->
        # exact fallback, which is the sound behavior at the pole
        phi_max = F.least(
            F.abs(F.col("qy_")) + F.lit((radius + 1) * cell_h), F.lit(90.0)
        )
        lon_excl_deg = F.least(
            F.lit(float(radius * cell_w)), F.lit(180.0) - F.abs(F.col("qx_"))
        )
        lon_bound = (
            F.lit(2.0 * _R / math.pi)
            * F.cos(F.radians(phi_max))
            * F.radians(lon_excl_deg)
        )
        # STRICT bound: an outside-ring point can sit at distance exactly
        # equal to the exclusion bound, and with kth_dist == bound it
        # would win the (dist, neighbor_id) tie-break whenever its id is
        # smaller — certifying on <= would then diverge from the exact
        # top-k. Strict < also closes the pole case: lon_bound -> 0 at
        # |lat| = 90, and 0 < 0 is false, so co-located polar points fall
        # back to the exact scan instead of certifying unsoundly.
        safe_cond = F.col("kth_dist") < F.least(F.lit(lat_bound), lon_bound)
    else:
        safe_cond = F.col("kth_dist") < F.lit(float(radius) * safe_per_ring)
    done_ids = (
        ranked.groupBy("query_id")
        .agg(
            F.count("*").alias("n_found"),
            F.max("dist").alias("kth_dist"),
            F.min("qy").alias("qy_"),
            F.min("qx").alias("qx_"),
        )
        .filter((F.col("n_found") >= k) & safe_cond)
        .select("query_id")
        .persist()
    )
    finished = ranked.join(F.broadcast(done_ids), "query_id", "left_semi").select(
        "query_id", "neighbor_id", "rank", "dist"
    )
    handles = [pts, pending, ranked, done_ids]  # unpersisted on cleanup
    pending = pending.join(F.broadcast(done_ids), "query_id", "left_anti")

    # exact fallback: broadcast the unfinished queries against every point —
    # one extra scan of pts, zero shuffles of the point side
    fallback = rank_candidates(
        pts.join(F.broadcast(pending.drop("qcell")), how="cross")
    ).select("query_id", "neighbor_id", "rank", "dist")
    out = finished.unionByName(fallback)
    if cleanup:
        # materialize the (queries x k)-row result, then release every
        # persisted intermediate — the handles are unreachable from the
        # returned frame, so without this path a long-lived application
        # pins them in executor storage for its whole lifetime
        out = out.localCheckpoint(eager=True)
        for h in handles:
            h.unpersist()
    return out


def idw_interpolate(
    queries: DataFrame, points: DataFrame, values: DataFrame,
    k: int = 5, res: int = DEFAULT_RES,
) -> DataFrame:
    """(query_id, n_nbrs, est): inverse-distance-squared (IDW, Shepard 1968)
    interpolation of a point-observation field at each query location from
    its k nearest observations — the classic geostatistics gridding op.

    est = sum(v_i / d_i^2) / sum(1 / d_i^2) over the kNN set, with the exact
    query-on-observation case (d = 0) returning that observation exactly
    (its weight is infinite). Distances are rounded to 6dp BEFORE weighting
    and both fold sums run in rank order over a sorted array — floating
    addition is not associative, so an unordered SQL SUM could differ
    between engines in the last ULP; the ordered fold makes the estimate
    bit-reproducible (the DuckDB oracle folds the identical sequence).

    Scale shape: everything rides the knn_join (k-ring prefilter, no cross
    join); values attach by one neighbor-id equi-join; the per-query state
    is a k-element array."""
    nn = knn_join(queries, points, k, res)
    vals = values.withColumnRenamed("point_id", "neighbor_id")
    j = nn.withColumn("d", F.round("dist", 6)).join(vals, "neighbor_id")
    grouped = j.groupBy("query_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("rank").alias("rank"),
                    F.col("d").alias("d"),
                    F.col("val").cast("double").alias("v"),
                )
            )
        ).alias("arr")
    )
    num = (
        "aggregate(transform(arr, e -> e.v / (e.d * e.d)), "
        "CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
    )
    den = (
        "aggregate(transform(arr, e -> 1.0 / (e.d * e.d)), "
        "CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
    )
    return grouped.selectExpr(
        "query_id",
        "CAST(size(arr) AS BIGINT) AS n_nbrs",
        f"CASE WHEN arr[0].d = 0.0 THEN round(arr[0].v, 6) "
        f"ELSE ROUND(({num}) / ({den}), 6) END AS est",
    )
