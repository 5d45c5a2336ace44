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
)


def ring_bbox(ring: Column) -> tuple[Column, Column, Column, Column]:
    xs = F.transform(ring, lambda v: v["x"])
    ys = F.transform(ring, lambda v: v["y"])
    return F.array_min(xs), F.array_min(ys), F.array_max(xs), F.array_max(ys)


def _ring_edges(ring: Column) -> Column:
    """array<struct<x,y>> closed ring -> array<struct<ax,ay,bx,by>> edges —
    the one edge construction every geometry predicate shares (a fix to
    edge handling must not be able to diverge between predicates)."""
    n = F.size(ring)
    return F.zip_with(
        F.slice(ring, 1, n - 1),
        F.slice(ring, 2, n - 1),
        lambda a, b: F.struct(
            a["x"].alias("ax"), a["y"].alias("ay"), b["x"].alias("bx"), b["y"].alias("by")
        ),
    )


def point_in_ring(px: Column, py: Column, ring: Column) -> Column:
    """Exact ray-casting (odd crossings) as a pure column expression.

    ring: array<struct<x,y>> closed (first == last vertex). An edge (a, b)
    crosses the rightward ray from (px, py) iff (a.y > py) != (b.y > py) and
    px < (b.x - a.x) * (py - a.y) / (b.y - a.y) + a.x.
    """
    edges = _ring_edges(ring)
    crossings = F.aggregate(
        edges,
        F.lit(0),
        lambda acc, e: acc
        + F.when(
            ((e["ay"] > py) != (e["by"] > py))
            & (px < (e["bx"] - e["ax"]) * (py - e["ay"]) / (e["by"] - e["ay"]) + e["ax"]),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return crossings % 2 == 1


def polygon_cells(
    polygons: DataFrame, res: int = DEFAULT_RES, classify_full: bool = False
) -> DataFrame:
    """(poly_id, ring, ...) -> exploded (cell, poly_id, ring): the prefilter
    side. Bbox cover is a superset of the exact polygon cover, so the
    prefilter never loses a true match.

    classify_full=True adds a `full` boolean per (poly, cell): the cell
    rectangle provably lies entirely inside the polygon (all 4 corners
    contained AND no edge's bbox touches the cell — conservative: any
    boundary contact, including degenerate corner/collinear touches that a
    proper-crossing test would miss, demotes the cell to partial). Points
    prefiltered into a full cell are definite hits and skip the exact
    refine — the partial/full-cell split of the Raster Intervals
    polygon-intersection prefilter (SIGMOD 2023, see PAPERS.md). A false
    'partial' only costs a ray-cast, never correctness; interior cells (the
    ones that dominate as resolution grows) stay full."""
    from ..functions.cells import SPAN_X, SPAN_Y, cell_bounds_xmin, cell_bounds_ymin

    xmin, ymin, xmax, ymax = ring_bbox(F.col("ring"))
    out = polygons.withColumn(
        "cell", F.explode(cover_rect(xmin, ymin, xmax, ymax, res))
    )
    if not classify_full:
        return out
    n = 1 << res
    cw, chh = SPAN_X / n, SPAN_Y / n
    cx0 = cell_bounds_xmin(F.col("cell"))
    cy0 = cell_bounds_ymin(F.col("cell"))
    cx1, cy1 = cx0 + F.lit(cw), cy0 + F.lit(chh)
    ring = F.col("ring")
    all_corners_in = (
        point_in_ring(cx0, cy0, ring)
        & point_in_ring(cx0, cy1, ring)
        & point_in_ring(cx1, cy0, ring)
        & point_in_ring(cx1, cy1, ring)
    )
    edges = _ring_edges(ring)
    # conservative boundary test: an edge whose bbox overlaps the cell MIGHT
    # touch it (covers proper crossings, vertices inside, and degenerate
    # corner/collinear contact) -> cell stays partial and gets the exact
    # ray-cast. No edge bbox overlapping + a corner inside => whole cell
    # interior (the boundary cannot enter without an edge point in the cell).
    edge_near_cell = F.exists(
        edges,
        lambda e: (F.least(e["ax"], e["bx"]) <= cx1)
        & (F.greatest(e["ax"], e["bx"]) >= cx0)
        & (F.least(e["ay"], e["by"]) <= cy1)
        & (F.greatest(e["ay"], e["by"]) >= cy0),
    )
    return out.withColumn("full", all_corners_in & ~edge_near_cell)


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
    pts = points.withColumn("cell", cell_from_xy(F.col(x), F.col(y), res))
    # full-cell classification: points landing in a cell entirely inside the
    # polygon skip the ray-cast (codegen short-circuits the OR per row)
    poly = polygon_cells(polygons, res, classify_full=True)
    if broadcast_polygons:
        poly = F.broadcast(poly)
    cand = pts.join(poly, "cell")
    return cand.filter(
        F.col("full") | point_in_ring(F.col(x), F.col(y), F.col("ring"))
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

    # closed cover: the predicate is inclusive (dist <= d), so a point at
    # exactly x == qx + d must have its cell in the prefilter
    q = queries.select(
        "query_id", F.col(x).alias("qx"), F.col(y).alias("qy")
    ).withColumn(
        "cell",
        F.explode(
            cover_rect_closed(
                F.col("qx") - F.lit(d), F.col("qy") - F.lit(d),
                F.col("qx") + F.lit(d), F.col("qy") + F.lit(d), res,
            )
        ),
    )
    pts = points.withColumn("cell", cell_from_xy(F.col(x), F.col(y), res))
    dist = F.sqrt(
        (F.col(x) - F.col("qx")) * (F.col(x) - F.col("qx"))
        + (F.col(y) - F.col("qy")) * (F.col(y) - F.col("qy"))
    )
    return (
        pts.join(F.broadcast(q), "cell")
        .withColumn("dist", dist)
        .filter(F.col("dist") <= F.lit(d))
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
    spherical superset bounds from functions.geo.disk_margins_deg (latitude-
    dependent longitude margin; clamps to full-longitude near the poles),
    and intervals crossing the +-180 antimeridian additionally cover the
    wrapped remainder (haversine wraps; a planar clip would silently drop
    wrapped-close pairs). Returns (query_id, point_id, dist_km).
    """
    from ..functions.cells import cover_rect_closed
    from ..functions.geo import disk_margins_deg, haversine_km

    dlat, dlon = disk_margins_deg(F.col("qy"), d_km)
    qx, qy = F.col("qx"), F.col("qy")
    ylo, yhi = qy - dlat, qy + dlat
    # antimeridian wrap: the haversine's sin^2(dlon/2) term has period 360,
    # so a disk crossing +-180 continues on the far side of the x domain —
    # the cover is the clamped primary interval plus the wrapped remainder(s)
    empty = F.array().cast("array<bigint>")
    primary = cover_rect_closed(qx - dlon, ylo, qx + dlon, yhi, res)
    wrap_w = F.when(
        qx - dlon < F.lit(-180.0),
        cover_rect_closed(qx - dlon + F.lit(360.0), ylo, F.lit(180.0), yhi, res),
    ).otherwise(empty)
    wrap_e = F.when(
        qx + dlon > F.lit(180.0),
        cover_rect_closed(F.lit(-180.0), ylo, qx + dlon - F.lit(360.0), yhi, res),
    ).otherwise(empty)
    q = queries.select(
        "query_id", F.col(x).alias("qx"), F.col(y).alias("qy")
    ).withColumn(
        "cell",
        F.explode(F.array_distinct(F.concat(primary, wrap_w, wrap_e))),
    )
    pts = points.withColumn("cell", cell_from_xy(F.col(x), F.col(y), res))
    return (
        pts.join(F.broadcast(q), "cell")
        .withColumn("dist_km", haversine_km(F.col("qy"), F.col("qx"), F.col(y), F.col(x)))
        .filter(F.col("dist_km") <= F.lit(d_km))
        .drop("cell", "qx", "qy")
    )


def _orient(ax, ay, bx, by, px, py) -> Column:
    """Signed area orientation of (a -> b -> p); same expression text as the
    DuckDB oracle so float results are bit-identical."""
    return (bx - ax) * (py - ay) - (by - ay) * (px - ax)


def _seg_cross(ax, ay, bx, by, cx, cy, dx, dy) -> Column:
    """Proper (strict) segment intersection of (a,b) x (c,d): each segment's
    endpoints lie strictly on opposite sides of the other's line."""
    o1 = _orient(ax, ay, bx, by, cx, cy)
    o2 = _orient(ax, ay, bx, by, dx, dy)
    o3 = _orient(cx, cy, dx, dy, ax, ay)
    o4 = _orient(cx, cy, dx, dy, bx, by)
    return (o1 * o2 < 0) & (o3 * o4 < 0)


def rect_intersects_ring(xmin, ymin, xmax, ymax, ring: Column) -> Column:
    """Exact rect x simple-polygon intersection as a pure column expression.

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
    vert_in_rect = F.exists(
        ring,
        lambda v: (v["x"] >= xmin) & (v["x"] <= xmax)
        & (v["y"] >= ymin) & (v["y"] <= ymax),
    )
    corner_in_poly = (
        point_in_ring(xmin, ymin, ring)
        | point_in_ring(xmin, ymax, ring)
        | point_in_ring(xmax, ymin, ring)
        | point_in_ring(xmax, ymax, ring)
    )
    edges = _ring_edges(ring)

    def crosses_rect_edge(e) -> Column:
        ax, ay, bx, by = e["ax"], e["ay"], e["bx"], e["by"]
        return (
            _seg_cross(ax, ay, bx, by, xmin, ymin, xmax, ymin)
            | _seg_cross(ax, ay, bx, by, xmax, ymin, xmax, ymax)
            | _seg_cross(ax, ay, bx, by, xmax, ymax, xmin, ymax)
            | _seg_cross(ax, ay, bx, by, xmin, ymax, xmin, ymin)
        )

    def corner_on_edge(e) -> Column:
        ax, ay, bx, by = e["ax"], e["ay"], e["bx"], e["by"]

        def on(px, py) -> Column:
            return (
                (_orient(ax, ay, bx, by, px, py) == 0)
                & (px >= F.least(ax, bx)) & (px <= F.greatest(ax, bx))
                & (py >= F.least(ay, by)) & (py <= F.greatest(ay, by))
            )

        return (
            on(xmin, ymin) | on(xmin, ymax) | on(xmax, ymin) | on(xmax, ymax)
        )

    return (
        vert_in_rect
        | corner_in_poly
        | F.exists(edges, crosses_rect_edge)
        | F.exists(edges, corner_on_edge)
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

    fp = footprint(images_with_meta)
    fp_cells = fp.withColumn(
        "cell",
        F.explode(
            cover_rect_touch(
                F.col("fp_xmin"), F.col("fp_ymin"), F.col("fp_xmax"), F.col("fp_ymax"), res
            )
        ),
    ).select("image_id", "fp_xmin", "fp_ymin", "fp_xmax", "fp_ymax", "cell")
    poly = F.broadcast(polygon_cells(polygons, res).select("cell", "poly_id", "ring"))
    cand = fp_cells.join(poly, "cell").dropDuplicates(["image_id", "poly_id"])
    return cand.filter(
        rect_intersects_ring(
            F.col("fp_xmin"), F.col("fp_ymin"), F.col("fp_xmax"), F.col("fp_ymax"),
            F.col("ring"),
        )
    ).select("image_id", "poly_id")


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
    a = fp.withColumn(
        "cell",
        F.explode(
            cover_rect(
                F.col("fp_xmin") - p, F.col("fp_ymin") - p,
                F.col("fp_xmax") + p, F.col("fp_ymax") + p, res,
            )
        ),
    ).select(
        "cell", F.col("image_id").alias("image_a"),
        F.col("fp_xmin").alias("ax0"), F.col("fp_ymin").alias("ay0"),
        F.col("fp_xmax").alias("ax1"), F.col("fp_ymax").alias("ay1"),
    )
    b = fp.withColumn(
        "cell",
        F.explode(
            cover_rect(
                F.col("fp_xmin"), F.col("fp_ymin"),
                F.col("fp_xmax"), F.col("fp_ymax"), res,
            )
        ),
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
        cell_from_xy(F.col("x"), F.col("y"), res).alias("cell"),
    ).repartition(par).persist()
    n_points = pts.count()
    pending = queries.select(
        "query_id", F.col("x").alias("qx"), F.col("y").alias("qy"),
        cell_from_xy(F.col("x"), F.col("y"), res).alias("qcell"),
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

    ringed = pending.withColumn("cell", F.explode(k_ring(F.col("qcell"), radius)))
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
