"""Cell index unit + property tests (numpy forms; Spark parity in test_pipeline)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from aira_spark.functions.cells import (
    DEFAULT_RES,
    np_cell_bounds,
    np_cell_children,
    np_cell_from_xy,
    np_cell_ix,
    np_cell_iy,
    np_cell_pack,
    np_cell_parent,
    np_cell_res,
    np_cover_rect,
    np_k_ring,
)

COORD = st.floats(min_value=-179.999, max_value=179.999, allow_nan=False)
LAT = st.floats(min_value=-89.999, max_value=89.999, allow_nan=False)
RES = st.integers(min_value=0, max_value=12)


def test_pack_unpack():
    c = np_cell_pack(7, 100, 42)
    assert np_cell_res(c) == 7
    assert np_cell_ix(c) == 100
    assert np_cell_iy(c) == 42
    assert c > 0


@given(COORD, LAT, RES)
@settings(max_examples=200, deadline=None)
def test_point_in_own_cell_bounds(x, y, res):
    c = int(np_cell_from_xy(x, y, res))
    xmin, ymin, xmax, ymax = np_cell_bounds(c)
    # epsilon-tolerant: (x - X0) absorbs values below one ulp of the span,
    # so points within ~1e-13 deg of a boundary may land on either side
    tol = 1e-10
    assert xmin - tol <= x <= xmax + tol
    assert ymin - tol <= y <= ymax + tol


@given(COORD, LAT, RES)
@settings(max_examples=200, deadline=None)
def test_parent_contains_child(x, y, res):
    c = int(np_cell_from_xy(x, y, res + 1))
    p = int(np_cell_parent(c))
    assert p == int(np_cell_from_xy(x, y, res))
    assert c in np_cell_children(p)


@given(COORD, LAT)
@settings(max_examples=100, deadline=None)
def test_k_ring_contains_center_and_is_bounded(x, y):
    c = int(np_cell_from_xy(x, y, DEFAULT_RES))
    ring = np_k_ring(c, 2)
    assert c in ring
    assert len(ring) <= 25
    assert len(set(ring)) == len(ring)
    for r in ring:
        assert abs(int(np_cell_ix(r)) - int(np_cell_ix(c))) <= 2
        assert abs(int(np_cell_iy(r)) - int(np_cell_iy(c))) <= 2


@given(COORD, LAT, st.floats(min_value=0.0001, max_value=3.0),
       st.floats(min_value=0.0001, max_value=3.0))
@settings(max_examples=200, deadline=None)
def test_cover_superset_of_sample_points(x, y, dw, dh):
    """cover(rect) must contain the cell of every point inside the rect."""
    xmax = min(x + dw, 179.999)
    ymax = min(y + dh, 89.999)
    cover = set(np_cover_rect(x, y, xmax, ymax, DEFAULT_RES))
    rng = np.random.default_rng(0)
    for _ in range(16):
        px = x + (xmax - x) * rng.random() * 0.999
        py = y + (ymax - y) * rng.random() * 0.999
        assert int(np_cell_from_xy(px, py, DEFAULT_RES)) in cover


def test_cover_exact_boundary_excluded():
    # a rect ending exactly on a cell boundary must not include the next cell
    xmin, ymin, _, _ = np_cell_bounds(int(np_cell_from_xy(0.1, 0.1, 4)))
    cw = 360.0 / 16
    chh = 180.0 / 16
    cover = np_cover_rect(xmin, ymin, xmin + cw, ymin + chh, 4)
    assert len(cover) == 1


def test_cover_degenerate_rect():
    cover = np_cover_rect(10.0, 10.0, 10.0, 10.0, DEFAULT_RES)
    assert cover == [int(np_cell_from_xy(10.0, 10.0, DEFAULT_RES))]


@given(
    st.floats(min_value=-179.99, max_value=179.99),
    st.floats(min_value=-89.9999, max_value=89.9999),
    st.floats(min_value=-179.99, max_value=179.99),
    st.floats(min_value=-89.9999, max_value=89.9999),
    st.floats(min_value=1.0, max_value=2000.0),
)
@settings(max_examples=400, deadline=None)
def test_geodesic_disk_margins_are_superset(qx, qy, px, py, d_km):
    """Property: any point within d great-circle km of the query lies inside
    the margin-expanded bbox (possibly via the antimeridian wrap) — the
    numeric core of within_distance_km_join's prefilter soundness."""
    import math

    from aira_spark.functions.geo import EARTH_RADIUS_KM

    dlat1 = math.radians(py - qy) / 2.0
    dlon1 = math.radians(px - qx) / 2.0
    h = (
        math.sin(dlat1) ** 2
        + math.cos(math.radians(qy)) * math.cos(math.radians(py)) * math.sin(dlon1) ** 2
    )
    dist = 2.0 * EARTH_RADIUS_KM * math.asin(math.sqrt(h))
    if dist > d_km:
        return
    # margins (python mirror of functions.geo.sql_disk_margins_deg)
    dlat = math.degrees(d_km / EARTH_RADIUS_KM)
    phi_max = abs(qy) + dlat
    if phi_max >= 89.9:
        dlon = 360.0  # near-pole: full-longitude cover, never lossy
    else:
        dlon = (90.0 * d_km / EARTH_RADIUS_KM) / math.cos(math.radians(phi_max))
    assert qy - dlat <= py <= qy + dlat
    in_primary = qx - dlon <= px <= qx + dlon
    in_wrap_w = (qx - dlon < -180.0) and (px >= qx - dlon + 360.0)
    in_wrap_e = (qx + dlon > 180.0) and (px <= qx + dlon - 360.0)
    assert in_primary or in_wrap_w or in_wrap_e


@given(COORD, LAT, st.floats(min_value=0.0001, max_value=3.0),
       st.floats(min_value=0.0001, max_value=3.0))
@settings(max_examples=150, deadline=None)
def test_closed_cover_includes_boundary_cells(x, y, dw, dh):
    """Property: cover_rect_closed includes the cell of every point of the
    CLOSED rect, including the exact max corner (which the half-open
    cover_rect may exclude)."""
    from aira_spark.functions.cells import np_cell_from_xy

    res = 7
    x2, y2 = min(x + dw, 179.999), min(y + dh, 89.999)
    cover = set(_np_cover_closed(x, y, x2, y2, res))
    for px, py in ((x, y), (x2, y), (x, y2), (x2, y2),
                   ((x + x2) / 2, (y + y2) / 2)):
        assert int(np_cell_from_xy(px, py, res)) in cover


def _np_cover_closed(xmin, ymin, xmax, ymax, res, touch=False):
    """numpy mirror of cells.cover_rect_closed (floor upper bound); with
    touch=True, of cover_rect_touch (a low bound exactly on a grid line
    also takes the cell below)."""
    import math

    n = 1 << res
    def clamp(v):
        return min(max(v, 0), n - 1)

    def lo(t):
        return clamp(math.floor(t) - (1 if touch and t == math.floor(t) else 0))
    ix0 = lo((xmin + 180.0) / 360.0 * n)
    iy0 = lo((ymin + 90.0) / 180.0 * n)
    ix1 = max(clamp(math.floor((xmax + 180.0) / 360.0 * n)), ix0)
    iy1 = max(clamp(math.floor((ymax + 90.0) / 180.0 * n)), iy0)
    from aira_spark.functions.cells import np_cell_pack

    return [
        int(np_cell_pack(res, ix, iy))
        for iy in range(iy0, iy1 + 1)
        for ix in range(ix0, ix1 + 1)
    ]


def test_morton_key_matches_reference(spark):
    """Column morton_key == the Python bit-interleave reference over the
    full res-5 grid plus a res-10 sample."""
    from pyspark.sql import functions as F

    from aira_spark.functions.cells import morton_key, np_morton_key

    n = 1 << 5
    grid = spark.range(n * n).selectExpr(
        "CAST(id % 32 AS BIGINT) AS ix", "CAST(id DIV 32 AS BIGINT) AS iy"
    )
    rows = grid.withColumn("mk", morton_key(F.col("ix"), F.col("iy"), 5)).collect()
    for r in rows:
        assert r.mk == np_morton_key(r.ix, r.iy, 5), (r.ix, r.iy)
    sample = spark.range(500).selectExpr(
        "CAST((id * 7919) % 1024 AS BIGINT) AS ix",
        "CAST((id * 104729) % 1024 AS BIGINT) AS iy",
    )
    for r in sample.withColumn("mk", morton_key(F.col("ix"), F.col("iy"), 10)).collect():
        assert r.mk == np_morton_key(r.ix, r.iy, 10)


def test_zordered_layout_locality(spark, sf_dir, tmp_path):
    """write_images_zordered: every file is sorted by the Morton key (row
    groups carry tight spatial min/max), and a bbox read over the layout
    returns exactly the same images as the unpartitioned scan."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aira_spark.functions.cells import morton_from_xy
    from aira_spark.operators.chunks import with_meta
    from aira_spark.sources.images import images_table, write_images_zordered

    out = str(tmp_path / "zorder")
    imgs = images_table(spark, sf_dir, limit=400)
    n_in = imgs.count()
    write_images_zordered(spark, imgs, out, part_res=2, sort_res=8)

    back = spark.read.parquet(out)
    assert back.count() == n_in > 0
    # layout property: every FILE is sorted by the stored z-key (parquet
    # preserves row order within a file; monotonically_increasing_id is
    # per-partition monotone in scan order)
    keyed = back.select(
        F.input_file_name().alias("f"),
        F.monotonically_increasing_id().alias("pos"),
        "zkey",
    )
    w = Window.partitionBy("f").orderBy("pos")
    bad = (
        keyed.withColumn("prev", F.lag("zkey").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("zkey") < F.col("prev")))
        .count()
    )
    assert bad == 0
    # the stored key IS the morton key of the decoded footprint center
    # (recomputed independently through the decode path)
    m = F.col("meta")
    cx = (m["tie_x"] - m["tie_i"] * m["scale_x"]) + m["width"].cast("double") * m["scale_x"] / 2.0
    cy = (m["tie_y"] + m["tie_j"] * m["scale_y"]) - m["height"].cast("double") * m["scale_y"] / 2.0
    mismatch = (
        with_meta(back)
        .withColumn("cx", cx)
        .withColumn("cy", cy)
        .select("zkey", morton_from_xy("cx", "cy", 8).alias("rz"))
        .filter(F.col("zkey") != F.col("rz"))
        .count()
    )
    assert mismatch == 0
    # bbox equivalence: partition-pruned + full scans agree
    ids_full = {
        r.image_id
        for r in with_meta(imgs).filter(
            (m["tie_x"] > -60) & (m["tie_x"] < 60) & (m["tie_y"] > -30) & (m["tie_y"] < 30)
        ).select("image_id").collect()
    }
    mb = F.col("meta")
    ids_z = {
        r.image_id
        for r in with_meta(back).filter(
            (mb["tie_x"] > -60) & (mb["tie_x"] < 60) & (mb["tie_y"] > -30) & (mb["tie_y"] < 30)
        ).select("image_id").collect()
    }
    assert ids_z == ids_full


# ------------------------------------------- one SQL text, two engines


def _eval_both(spark, cols, rows, texts):
    """Evaluate each SQL text over `rows` in Spark (F.expr) and in DuckDB
    (dialect="duckdb" texts); `cols` is [(name, spark_ddl, arrow_type)].
    Returns (spark_rows, duckdb_rows), one tuple per input row."""
    import duckdb
    import pyarrow as pa

    ddl = ", ".join(f"{n} {t}" for n, t, _ in [("row_id", "bigint", None), *cols])
    data = [(i, *r) for i, r in enumerate(rows)]
    sdf = spark.createDataFrame(data, ddl)
    spark_rows = [
        tuple(r)[1:]
        for r in sdf.selectExpr("row_id", *(f"{s} AS c{i}" for i, (s, _) in enumerate(texts)))
        .orderBy("row_id")
        .collect()
    ]
    table = pa.Table.from_pylist(
        [dict(zip(["row_id", *(n for n, _, _ in cols)], r)) for r in data],
        schema=pa.schema([("row_id", pa.int64()), *((n, t) for n, _, t in cols)]),
    )
    con = duckdb.connect()
    con.register("t", table)
    select = ", ".join(f"{d} AS c{i}" for i, (_, d) in enumerate(texts))
    duck_rows = [tuple(r)[1:] for r in con.sql(f"SELECT row_id, {select} FROM t ORDER BY row_id").fetchall()]
    return spark_rows, duck_rows


def _texts(build, *args, **kw):
    """(spark text, duckdb text) of one builder call."""
    return build(*args, **kw), build(*args, **kw, dialect="duckdb")


def test_sql_cell_texts_match_numpy_in_both_engines(spark):
    """cell_from_xy / res / ix / iy / parent / bounds text == numpy, in Spark
    and DuckDB: points on grid lines, on the world edges and outside the
    world, plus an integer-typed operand (a bare DECIMAL literal would
    change its arithmetic)."""
    import pyarrow as pa

    from aira_spark.functions.cells import (
        sql_cell_bounds,
        sql_cell_from_xy,
        sql_cell_iy,
        sql_cell_ix,
        sql_cell_parent,
        sql_cell_res,
    )

    pts = [(-180.0, -90.0), (180.0, 90.0), (-180.0, 90.0), (180.0, -90.0),
           (0.0, 0.0), (-250.0, 120.0), (400.0, -91.0), (179.9999999, 89.9999999),
           (-179.9999999, -89.9999999), (12.3, -45.6)]
    for res in (0, 3, 7, 12, 20):
        n = 1 << res
        pts += [(-180.0 + i * 360.0 / n, -90.0 + j * 180.0 / n) for i, j in ((1, 1), (n // 2, n // 3), (n - 1, n - 1))]
    ints = [(int(x), int(y)) for x, y in pts]
    rows = [(x, y, xi, yi) for (x, y), (xi, yi) in zip(pts, ints)]
    cols = [("x", "double", pa.float64()), ("y", "double", pa.float64()),
            ("xi", "int", pa.int32()), ("yi", "int", pa.int32())]
    # at res 20 a DECIMAL quotient (rounded to 6 places) is off by up to
    # half a cell, so the integer operand catches a literal left DECIMAL
    for res in (0, 3, 7, 12, 20):
        cell = sql_cell_from_xy("x", "y", res)
        texts = [
            (cell, cell),
            (sql_cell_from_xy("xi", "yi", res),) * 2,
            _texts(sql_cell_res, cell),
            _texts(sql_cell_ix, cell),
            _texts(sql_cell_iy, cell),
            *zip(sql_cell_bounds(cell), sql_cell_bounds(cell, dialect="duckdb")),
        ]
        if res:
            texts.append(_texts(sql_cell_parent, cell))
        got_spark, got_duck = _eval_both(spark, cols, rows, texts)
        for (x, y, xi, yi), gs, gd in zip(rows, got_spark, got_duck):
            c = int(np_cell_from_xy(x, y, res))
            want = [c, int(np_cell_from_xy(float(xi), float(yi), res)),
                    int(np_cell_res(c)), int(np_cell_ix(c)), int(np_cell_iy(c)),
                    *(float(v) for v in np_cell_bounds(c))]
            if res:
                want.append(int(np_cell_parent(c)))
            assert list(gs) == want, (res, x, y)
            assert list(gd) == want, (res, x, y)


def test_sql_cover_texts_match_numpy_in_both_engines(spark):
    """sql_cover (half-open / closed / touch) == the numpy covers in Spark
    and DuckDB: degenerate rects, rects on grid lines, touching rects,
    rects over and past the world edges, an inverted rect and an
    integer-typed rect."""
    import pyarrow as pa

    from aira_spark.functions.cells import sql_cover

    for res in (3, 7):
        n = 1 << res
        gx = lambda i: -180.0 + i * 360.0 / n  # noqa: E731
        gy = lambda j: -90.0 + j * 180.0 / n  # noqa: E731
        rects = [
            (10.0, 20.0, 10.0, 20.0),                  # degenerate interior point
            (gx(3), gy(2), gx(3), gy(2)),              # degenerate on a grid corner
            (gx(2), gy(1), gx(4), gy(3)),              # edges on grid lines
            (gx(2) - 1.0, 0.0, gx(2), 3.0),            # touches the next rect's left edge
            (gx(2), 0.0, gx(2) + 1.0, 3.0),
            (gx(5), gy(5), gx(6), gy(6)),              # touches the next rect at a corner
            (gx(6), gy(6), gx(7), gy(7)),
            (-190.0, -95.0, -170.0, -80.0),            # past the world's low corner
            (170.0, 80.0, 190.0, 95.0),                # past the high corner
            (200.0, 100.0, 210.0, 110.0),              # outside the world
            (5.0, 5.0, 1.0, 1.0),                      # inverted
            (-180.0, -90.0, 180.0, 90.0),              # the whole world
        ]
        rows = [(*r, int(r[0]), int(r[1]), int(r[2]), int(r[3])) for r in rects]
        cols = [(c, "double", pa.float64()) for c in ("x0", "y0", "x1", "y1")]
        cols += [(c, "bigint", pa.int64()) for c in ("i0", "j0", "i1", "j1")]
        modes = ("half_open", "closed", "touch")
        texts = [_texts(sql_cover, "x0", "y0", "x1", "y1", res, m) for m in modes]
        texts += [_texts(sql_cover, "i0", "j0", "i1", "j1", res, m) for m in modes]
        got_spark, got_duck = _eval_both(spark, cols, rows, texts)

        def ref(r):
            return [np_cover_rect(*r, res), _np_cover_closed(*r, res),
                    _np_cover_closed(*r, res, touch=True)]

        for r, gs, gd in zip(rows, got_spark, got_duck):
            want = ref(r[:4]) + ref(tuple(float(v) for v in r[4:]))
            assert [list(v) for v in gs] == want, (res, r)
            assert [list(v) for v in gd] == want, (res, r)
        # touching rects share a cell between one's touch cover and the
        # other's half-open cover, in both directions
        for a, b in ((rects[3], rects[4]), (rects[5], rects[6])):
            for p, q in ((a, b), (b, a)):
                assert set(_np_cover_closed(*p, res, touch=True)) & set(np_cover_rect(*q, res))


def test_sql_k_ring_matches_numpy_in_both_engines(spark):
    """sql_k_ring == np_k_ring at the grid corners and edges and over a
    mixed-resolution cell column (each cell rings at its own res)."""
    import pyarrow as pa

    from aira_spark.functions.cells import sql_k_ring

    cells = []
    for res in (0, 1, 3, 7, 12):
        n = 1 << res
        for ix, iy in ((0, 0), (n - 1, n - 1), (0, n - 1), (n - 1, 0), (n // 2, 0), (n // 3, n // 2)):
            cells.append(int(np_cell_pack(res, ix, iy)))
    texts = [_texts(sql_k_ring, "cell", k) for k in (0, 1, 2)]
    got_spark, got_duck = _eval_both(spark, [("cell", "bigint", pa.int64())], [(c,) for c in cells], texts)
    for c, gs, gd in zip(cells, got_spark, got_duck):
        want = [np_k_ring(c, k) for k in (0, 1, 2)]
        assert [list(v) for v in gs] == want, c
        assert [list(v) for v in gd] == want, c


def _ray_cast(px, py, ring):
    inside = False
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        if (ay > py) != (by > py) and px < (bx - ax) * (py - ay) / (by - ay) + ax:
            inside = not inside
    return inside


def test_sql_ring_predicates_match_reference_in_both_engines(spark):
    """sql_point_in_ring, sql_ring_bbox and the full-cell test of
    polygon_cells == a Python reference in Spark and DuckDB. The cells
    cover the four ways a cell's corners can sit: all inside (full), all
    inside with an edge cutting in (partial), corners on the boundary, and
    outside. One point operand is integer-typed."""
    import pyarrow as pa

    from aira_spark.operators.spatial import sql_full_cell, sql_point_in_ring, sql_ring_bbox

    res = 4
    n = 1 << res
    cw, ch = 360.0 / n, 180.0 / n
    gx = lambda i: -180.0 + i * cw  # noqa: E731
    gy = lambda j: -90.0 + j * ch  # noqa: E731
    square = [(gx(2), gy(2)), (gx(8), gy(2)), (gx(8), gy(8)), (gx(2), gy(8)), (gx(2), gy(2))]
    # the square with a notch cut into cell (4, 4) from its bottom edge
    notched = [(gx(2), gy(2)), (gx(4) + 1.0, gy(2)), (gx(4) + 1.0, gy(4) + 1.0),
               (gx(4) + 2.0, gy(4) + 1.0), (gx(4) + 2.0, gy(2)), (gx(8), gy(2)),
               (gx(8), gy(8)), (gx(2), gy(8)), (gx(2), gy(2))]
    triangle = [(0.0, 0.0), (90.0, 0.0), (0.0, 60.0), (0.0, 0.0)]
    cells = [(5, 5), (4, 4), (2, 2), (7, 7), (1, 1), (12, 12), (8, 4), (9, 9)]
    points = [(gx(3), gy(3)), (gx(2), gy(5)), (gx(8), gy(5)), (0.5, 0.5), (100.0, 10.0),
              (gx(4) + 1.5, gy(3)), (-179.0, 0.0)]
    rows = []
    for ring in (square, notched, triangle):
        for (ix, iy), (px, py) in zip(cells, points + points[:1]):
            rows.append((ring, int(np_cell_pack(res, ix, iy)), px, py, int(px)))
    pa_ring = pa.list_(pa.struct([("x", pa.float64()), ("y", pa.float64())]))
    cols = [("ring", "array<struct<x:double,y:double>>", pa_ring), ("cell", "bigint", pa.int64()),
            ("px", "double", pa.float64()), ("py", "double", pa.float64()), ("pxi", "int", pa.int32())]
    texts = [
        _texts(sql_point_in_ring, "px", "py", "ring"),
        _texts(sql_point_in_ring, "pxi", "py", "ring"),
        _texts(sql_full_cell, "cell", "ring"),
        *zip(sql_ring_bbox("ring"), sql_ring_bbox("ring", dialect="duckdb")),
    ]
    as_structs = [([{"x": x, "y": y} for x, y in ring], *rest) for ring, *rest in rows]
    got_spark, got_duck = _eval_both(spark, cols, as_structs, texts)
    n_full = 0
    for (ring, cell, px, py, pxi), gs, gd in zip(rows, got_spark, got_duck):
        x0, y0, x1, y1 = (float(v) for v in np_cell_bounds(cell))
        corners_in = all(_ray_cast(cx, cy, ring) for cx, cy in ((x0, y0), (x0, y1), (x1, y0), (x1, y1)))
        near = any(
            min(ax, bx) <= x1 and max(ax, bx) >= x0 and min(ay, by) <= y1 and max(ay, by) >= y0
            for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:])
        )
        xs, ys = [v[0] for v in ring], [v[1] for v in ring]
        want = [_ray_cast(px, py, ring), _ray_cast(float(pxi), py, ring), corners_in and not near,
                min(xs), min(ys), max(xs), max(ys)]
        n_full += want[2]
        assert list(gs) == want, (ring, cell, px, py)
        assert list(gd) == want, (ring, cell, px, py)
    assert 0 < n_full < len(rows)
