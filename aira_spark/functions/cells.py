"""Hierarchical grid cell index (H3/S2-style, from scratch — no geo libs).

A cell at resolution r is one square of the 2^r x 2^r grid over the world
rectangle WORLD = [-180, 180) x [-90, 90). Cell ids pack (res, ix, iy) into a
non-negative int64:

    cell = (res << 58) | (ix << 29) | iy        (res <= 29, ix/iy < 2^29)

This keeps parent/child/k-ring arithmetic to pure integer ops. Every
operation exists as a numpy reference (the serial form the tests check
against) and as ONE SQL text built by the `sql_*` functions below. Spark
runs that text through `F.expr` (JVM built-ins, whole-stage-codegen
friendly, no UDFs: the scale path) and the DuckDB oracle runs the same
text; `dialect` changes only what the two engines spell differently
(array functions and lambdas, the unsigned shift). Every literal and
operand is cast to DOUBLE, since a bare `360.0` is DECIMAL in both. The
text form is also the cheap one to build: each PySpark Column operator
costs several py4j round trips, one `F.expr` costs one parse. The north
rule's "H3/S2 index" semantics (hierarchy, k-ring, cover) follow standard
definitions; the square grid replaces hexagons since no h3 lib exists here
(SURVEY.md §7).
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

RES_SHIFT = 58
IX_SHIFT = 29
COORD_MASK = (1 << 29) - 1

# world rectangle; lon-like x, lat-like y
X0, Y0, X1, Y1 = -180.0, -90.0, 180.0, 90.0
SPAN_X, SPAN_Y = X1 - X0, Y1 - Y0

DEFAULT_RES = 7  # 128 x 128 grid -> 2.8125 x 1.40625 degree cells


# ---------- numpy forms ----------


def np_cell_pack(res: int, ix, iy):
    return (np.int64(res) << RES_SHIFT) | (np.asarray(ix, np.int64) << IX_SHIFT) | np.asarray(iy, np.int64)


def np_cell_from_xy(x, y, res: int = DEFAULT_RES):
    n = 1 << res
    ix = np.clip(np.floor((np.asarray(x) - X0) / SPAN_X * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((np.asarray(y) - Y0) / SPAN_Y * n), 0, n - 1).astype(np.int64)
    return np_cell_pack(res, ix, iy)


def np_cell_res(cell):
    return np.asarray(cell, np.int64) >> RES_SHIFT


def np_cell_ix(cell):
    return (np.asarray(cell, np.int64) >> IX_SHIFT) & COORD_MASK


def np_cell_iy(cell):
    return np.asarray(cell, np.int64) & COORD_MASK


def np_cell_parent(cell, steps: int = 1):
    res = np_cell_res(cell)
    return np_cell_pack(0, np_cell_ix(cell) >> steps, np_cell_iy(cell) >> steps) | (
        (res - steps) << RES_SHIFT
    )


def np_cell_children(cell):
    """The 4 children one level down (quadtree refinement)."""
    res = int(np_cell_res(cell))
    ix, iy = int(np_cell_ix(cell)) << 1, int(np_cell_iy(cell)) << 1
    return [
        int(np_cell_pack(res + 1, ix + dx, iy + dy)) for dy in (0, 1) for dx in (0, 1)
    ]


def np_k_ring(cell: int, k: int) -> list[int]:
    """All cells within Chebyshev distance k (grid analog of H3 kRing)."""
    res = int(np_cell_res(cell))
    n = 1 << res
    cx, cy = int(np_cell_ix(cell)), int(np_cell_iy(cell))
    out = []
    for iy in range(max(0, cy - k), min(n - 1, cy + k) + 1):
        for ix in range(max(0, cx - k), min(n - 1, cx + k) + 1):
            out.append(int(np_cell_pack(res, ix, iy)))
    return out


def np_cover_rect(xmin, ymin, xmax, ymax, res: int = DEFAULT_RES) -> list[int]:
    """Cells intersecting the half-open rect [xmin, xmax) x [ymin, ymax).

    High index = ceil(u) - 1 so an edge exactly on a cell boundary does not
    pull in the next cell; degenerate rects still cover their point's cell.
    """
    n = 1 << res
    ix0 = int(np.clip(np.floor((xmin - X0) / SPAN_X * n), 0, n - 1))
    iy0 = int(np.clip(np.floor((ymin - Y0) / SPAN_Y * n), 0, n - 1))
    ix1 = int(np.clip(np.ceil((xmax - X0) / SPAN_X * n) - 1, ix0, n - 1))
    iy1 = int(np.clip(np.ceil((ymax - Y0) / SPAN_Y * n) - 1, iy0, n - 1))
    return [
        int(np_cell_pack(res, ix, iy))
        for iy in range(iy0, iy1 + 1)
        for ix in range(ix0, ix1 + 1)
    ]


def np_cell_bounds(cell):
    """(xmin, ymin, xmax, ymax) of a cell."""
    res = np_cell_res(cell)
    n = np.int64(1) << res
    cw, chh = SPAN_X / n, SPAN_Y / n
    x = X0 + np_cell_ix(cell) * cw
    y = Y0 + np_cell_iy(cell) * chh
    return x, y, x + cw, y + chh


# ---------- SQL text: the one Spark (F.expr) and DuckDB form ----------

_IDENT = re.compile(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*")


def sql_operand(v) -> str:
    """SQL text of a formula operand: text as is, an `F.col` reference by
    its name, an `F.expr` Column by its text. Any other Column is a
    TypeError: its text is not recoverable, and building it as a Column
    tree is what the text forms exist to avoid."""
    if isinstance(v, str):
        return f"({v})"
    if isinstance(v, Column):
        node = v._jc.node()
        kind = node.getClass().getSimpleName()
        if kind in ("SqlExpression", "UnresolvedAttribute"):
            text = node.sql()
            if kind == "SqlExpression" or _IDENT.fullmatch(text):
                return f"({text})"
    raise TypeError(
        f"expected SQL text, an F.col reference or an F.expr Column, got {v!r}"
    )


def sql_double(v) -> str:
    """A DOUBLE literal or operand: a bare `360.0` is DECIMAL in both engines."""
    if isinstance(v, (int, float)):
        return f"CAST({float(v)!r} AS DOUBLE)"
    return f"CAST({sql_operand(v)} AS DOUBLE)"


def sql_seq(lo: str, hi: str, dialect: str = "spark") -> str:
    """Inclusive integer range lo..hi (callers keep lo <= hi: Spark's
    sequence counts down where DuckDB's is empty)."""
    fn = "generate_series" if dialect == "duckdb" else "sequence"
    return f"{fn}({lo}, {hi})"


def sql_map(arr: str, var: str, body: str, dialect: str = "spark") -> str:
    fn = "list_transform" if dialect == "duckdb" else "transform"
    return f"{fn}({arr}, {var} -> {body})"


def sql_count(arr: str, var: str, pred: str, dialect: str = "spark") -> str:
    """Number of elements satisfying pred (NULL counts as false)."""
    if dialect == "duckdb":
        return f"len(list_filter({arr}, {var} -> {pred}))"
    return f"size(filter({arr}, {var} -> {pred}))"


def sql_any(arr: str, var: str, pred: str, dialect: str = "spark") -> str:
    if dialect == "duckdb":
        return f"({sql_count(arr, var, pred, dialect)} > 0)"
    return f"exists({arr}, {var} -> {pred})"


def _shr(dialect: str) -> str:
    # cell ids are non-negative, where DuckDB's arithmetic >> equals >>>
    return ">>" if dialect == "duckdb" else ">>>"


def _grid_u(v, origin: float, span: float, res: int) -> str:
    """Continuous grid coordinate of v at `res` (DOUBLE)."""
    return f"(({sql_double(v)} - {sql_double(origin)}) / {sql_double(span)} * {sql_double(1 << res)})"


def _clamp_index(idx: str, res: int) -> str:
    return f"CAST(LEAST(GREATEST({idx}, 0), {(1 << res) - 1}) AS BIGINT)"


def sql_ix(x, res: int = DEFAULT_RES) -> str:
    """Grid column of x at `res` (BIGINT, clamped to the world)."""
    return _clamp_index(f"FLOOR({_grid_u(x, X0, SPAN_X, res)})", res)


def sql_iy(y, res: int = DEFAULT_RES) -> str:
    return _clamp_index(f"FLOOR({_grid_u(y, Y0, SPAN_Y, res)})", res)


def sql_cell_pack(res, ix: str, iy: str) -> str:
    """Pack BIGINT grid indices; `res` is an int or BIGINT SQL text."""
    r = res << RES_SHIFT if isinstance(res, int) else f"{res} * {1 << RES_SHIFT}"
    return f"({r} + {ix} * {1 << IX_SHIFT} + {iy})"


def sql_cell_from_xy(x, y, res: int = DEFAULT_RES) -> str:
    return sql_cell_pack(res, sql_ix(x, res), sql_iy(y, res))


def sql_cell_res(cell, dialect: str = "spark") -> str:
    return f"({sql_operand(cell)} {_shr(dialect)} {RES_SHIFT})"


def sql_cell_ix(cell, dialect: str = "spark") -> str:
    return f"(({sql_operand(cell)} {_shr(dialect)} {IX_SHIFT}) & {COORD_MASK})"


def sql_cell_iy(cell, dialect: str = "spark") -> str:
    return f"({sql_operand(cell)} & {COORD_MASK})"


def sql_cell_parent(cell, steps: int = 1, dialect: str = "spark") -> str:
    cell, shr = sql_operand(cell), _shr(dialect)
    return sql_cell_pack(
        f"({sql_cell_res(cell, dialect)} - {steps})",
        f"({sql_cell_ix(cell, dialect)} {shr} {steps})",
        f"({sql_cell_iy(cell, dialect)} {shr} {steps})",
    )


def sql_cell_size(cell, dialect: str = "spark") -> tuple[str, str]:
    """(width, height) of a cell at its own encoded resolution."""
    n = f"POW({sql_double(2)}, CAST({sql_cell_res(cell, dialect)} AS DOUBLE))"
    return f"({sql_double(SPAN_X)} / {n})", f"({sql_double(SPAN_Y)} / {n})"


def sql_cell_bounds(cell, dialect: str = "spark") -> tuple[str, str, str, str]:
    """(xmin, ymin, xmax, ymax) of a cell at its own encoded resolution."""
    cell = sql_operand(cell)
    cw, ch = sql_cell_size(cell, dialect)
    xmin = f"({sql_double(X0)} + CAST({sql_cell_ix(cell, dialect)} AS DOUBLE) * {cw})"
    ymin = f"({sql_double(Y0)} + CAST({sql_cell_iy(cell, dialect)} AS DOUBLE) * {ch})"
    return xmin, ymin, f"({xmin} + {cw})", f"({ymin} + {ch})"


def sql_k_ring(cell, k: int, dialect: str = "spark") -> str:
    """array<bigint> of the cells within Chebyshev distance k, clamped to
    the grid, at the CELL'S OWN encoded resolution (like np_k_ring), so
    mixed-resolution columns (compact covers) ring correctly per row."""
    cell = sql_operand(cell)
    res = sql_cell_res(cell, dialect)
    hi = f"((CAST(1 AS BIGINT) << CAST({res} AS INT)) - 1)"
    ix, iy = sql_cell_ix(cell, dialect), sql_cell_iy(cell, dialect)

    def span(c: str) -> str:
        return sql_seq(f"GREATEST({c} - {k}, 0)", f"LEAST({c} + {k}, {hi})", dialect)

    inner = sql_map(span(ix), "ring_ix", sql_cell_pack(res, "ring_ix", "ring_iy"), dialect)
    return f"flatten({sql_map(span(iy), 'ring_iy', inner, dialect)})"


COVER_MODES = ("half_open", "closed", "touch")


def sql_cover_bounds(xmin, ymin, xmax, ymax, res: int = DEFAULT_RES, mode: str = "half_open"):
    """(ix0, iy0, ix1, iy1) BIGINT index bounds of a rect's cell cover.

    half_open: [xmin, xmax) x [ymin, ymax); the high index is ceil(u) - 1,
    so an edge exactly on a cell boundary does not pull in the next cell.
    closed: the high index is floor(u), so the boundary point's own cell is
    included (for inclusive predicates such as dist <= d).
    touch: closed, and a low bound exactly on a grid line also takes the
    cell below it, so any closed rect touching this one shares >= 1 cell
    with its half-open cover (see cover_rect_touch).
    Degenerate rects still cover their point's cell (hi >= lo)."""
    if mode not in COVER_MODES:
        raise ValueError(f"cover mode must be one of {COVER_MODES}, got {mode!r}")

    def lo(v, origin, span) -> str:
        t = _grid_u(v, origin, span, res)
        if mode == "touch":
            return _clamp_index(f"FLOOR({t}) - CASE WHEN {t} = CAST(FLOOR({t}) AS DOUBLE) THEN 1 ELSE 0 END", res)
        return _clamp_index(f"FLOOR({t})", res)

    def hi(v, origin, span, lo_idx: str) -> str:
        t = _grid_u(v, origin, span, res)
        idx = f"CEIL({t}) - 1" if mode == "half_open" else f"FLOOR({t})"
        return f"GREATEST({_clamp_index(idx, res)}, {lo_idx})"

    ix0, iy0 = lo(xmin, X0, SPAN_X), lo(ymin, Y0, SPAN_Y)
    return ix0, iy0, hi(xmax, X0, SPAN_X, ix0), hi(ymax, Y0, SPAN_Y, iy0)


def sql_cover(xmin, ymin, xmax, ymax, res: int = DEFAULT_RES, mode: str = "half_open",
              dialect: str = "spark") -> str:
    """array<bigint> cell cover of a rect (modes: sql_cover_bounds)."""
    ix0, iy0, ix1, iy1 = sql_cover_bounds(xmin, ymin, xmax, ymax, res, mode)
    inner = sql_map(sql_seq(ix0, ix1, dialect), "cov_ix", sql_cell_pack(res, "cov_ix", "cov_iy"), dialect)
    return f"flatten({sql_map(sql_seq(iy0, iy1, dialect), 'cov_iy', inner, dialect)})"


# ---------- Spark forms: F.expr of the SQL text (operands: sql_operand) ----------


def cell_from_xy(x, y, res: int = DEFAULT_RES) -> Column:
    return F.expr(sql_cell_from_xy(x, y, res))


def cell_ix(cell) -> Column:
    return F.expr(sql_cell_ix(cell))


def cell_iy(cell) -> Column:
    return F.expr(sql_cell_iy(cell))


def cell_parent(cell, steps: int = 1) -> Column:
    return F.expr(sql_cell_parent(cell, steps))


def k_ring(cell, k: int) -> Column:
    """array<long> of cells within Chebyshev distance k (sql_k_ring)."""
    return F.expr(sql_k_ring(cell, k))


def cover_rect(xmin, ymin, xmax, ymax, res: int = DEFAULT_RES) -> Column:
    """array<long> cell cover of a half-open rect — JVM-side, explode-ready."""
    return F.expr(sql_cover(xmin, ymin, xmax, ymax, res, "half_open"))


def cover_rect_closed(xmin, ymin, xmax, ymax, res: int = DEFAULT_RES) -> Column:
    """Cell cover of the CLOSED rect [xmin, xmax] x [ymin, ymax].

    Unlike cover_rect (half-open: a rect ending exactly on a cell boundary
    excludes that boundary's cell), the upper bound uses floor so the cell
    containing the boundary point itself is included — required when the
    downstream predicate is inclusive (e.g. dist <= d: a point at exactly
    distance d sits at x == qx + d, whose cell_from_xy cell must be covered).
    """
    return F.expr(sql_cover(xmin, ymin, xmax, ymax, res, "closed"))


def cover_rect_touch(xmin, ymin, xmax, ymax, res: int = DEFAULT_RES) -> Column:
    """Touch-inclusive cover: closed upper bound AND a lower bound extended one
    cell when it lies exactly on a grid line.

    Guarantees that any closed rect A intersecting-or-touching a closed rect B
    shares >= 1 cell between cover_rect_touch(A) and cover_rect(B) (B's
    ordinary half-open cover) — including the degenerate contact where the
    shared edge sits exactly on a cell boundary, in either direction. Use on
    the probe side of a lossless bbox-prefilter join whose refine predicate is
    closed (e.g. footprint_polygon_join); the at-most-one extra row/column of
    cells only enlarges the candidate superset.
    """
    return F.expr(sql_cover(xmin, ymin, xmax, ymax, res, "touch"))


# ---------------------------------------------------------------- Z-order


def np_morton_key(ix: int, iy: int, res: int) -> int:
    """Python reference: bit-interleaved (Morton / Z-order) key of a grid
    cell — even bits from ix, odd bits from iy."""
    out = 0
    for b in range(res):
        out |= ((ix >> b) & 1) << (2 * b)
        out |= ((iy >> b) & 1) << (2 * b + 1)
    return out


def morton_key(ix: Column, iy: Column, res: int = DEFAULT_RES) -> Column:
    """Z-order (Morton) key as a pure integer projection: interleaves the
    res bits of ix and iy so that cells close in 2-D are close in the 1-D
    sort order. THE spatial-locality layout device at 100 TB: writing files
    sorted by morton_key clusters each polygon window / k-ring / bbox query
    into O(1) contiguous byte ranges per partition, so parquet row-group
    min/max statistics prune most of the table for spatial predicates
    (the 1-D analog of Iceberg's Z-order rewrite strategy)."""
    terms = None
    for b in range(res):
        t = F.shiftleft(F.shiftrightunsigned(ix, b).bitwiseAND(F.lit(1)), 2 * b) + \
            F.shiftleft(F.shiftrightunsigned(iy, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        terms = t if terms is None else terms + t
    return terms.cast("long")


def morton_from_xy(x, y, res: int = DEFAULT_RES) -> Column:
    """Morton key straight from lon/lat (same grid as cell_from_xy); x, y
    are SQL text or F.col references."""
    return morton_key(F.expr(sql_ix(x, res)), F.expr(sql_iy(y, res)), res)


# --------------------------------------------------------------- Hilbert


def np_hilbert_key(ix, iy, res: int):
    """Vectorized numpy Hilbert curve index of grid cells on the 2^res
    grid (the canonical iterative xy->d walk: quadrant digit + rotate/flip
    per level; the flip is the full-width bitwise complement n-1-x, whose
    low bits equal the in-quadrant flip — high bits are never re-read).

    Morton's sibling with strictly better locality: consecutive keys are
    ALWAYS L1-adjacent cells (Z-order jumps across the grid at quadrant
    seams), so range scans over a Hilbert-sorted layout touch fewer,
    longer contiguous stretches for the same bbox."""
    import numpy as np

    x = np.asarray(ix, dtype=np.int64).copy()
    y = np.asarray(iy, dtype=np.int64).copy()
    d = np.zeros_like(x)
    n = 1 << res
    s = n >> 1
    while s > 0:
        rx = ((x & s) != 0).astype(np.int64)
        ry = ((y & s) != 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        flip = (ry == 0) & (rx == 1)
        x = np.where(flip, n - 1 - x, x)
        y = np.where(flip, n - 1 - y, y)
        swap = ry == 0
        x, y = np.where(swap, y, x), np.where(swap, x, y)
        s >>= 1
    return d


def sql_hilbert_cte(src: str, res: int) -> str:
    """DuckDB CTE chain computing the SAME walk: `src` must select
    (id, x, y); the chain ends in CTE hfin(id, hkey). One simple
    projection per level — linear, no recursion."""
    n = 1 << res
    parts = [f"h0 AS (SELECT id, CAST(0 AS BIGINT) AS d, x, y FROM ({src}))"]
    for k in range(res):
        s = 1 << (res - 1 - k)
        parts.append(
            f"h{k + 1} AS (SELECT id, d, "
            "CASE WHEN ry = 0 THEN yf ELSE xf END AS x, "
            "CASE WHEN ry = 0 THEN xf ELSE yf END AS y "
            "FROM (SELECT id, "
            f"d + {s * s} * (CASE WHEN rx = 0 THEN ry ELSE 3 - ry END) AS d, "
            f"CASE WHEN ry = 0 AND rx = 1 THEN {n - 1} - x ELSE x END AS xf, "
            f"CASE WHEN ry = 0 AND rx = 1 THEN {n - 1} - y ELSE y END AS yf, "
            "rx, ry FROM (SELECT id, d, x, y, "
            f"(x // {s}) % 2 AS rx, (y // {s}) % 2 AS ry FROM h{k})))"
        )
    parts.append(
        f"hfin AS (SELECT id, CAST(d AS BIGINT) AS hkey FROM h{res})"
    )
    return ",\n".join(parts)
