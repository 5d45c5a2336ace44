"""Areal interpolation: transfer a per-zone measure from SOURCE zones to
an incompatible TARGET zonation — the classic GIS re-aggregation problem
(census tracts -> school districts, admin units -> watersheds), solved by
raster-based areal weighting on the shared cell grid.

Each source zone's value spreads uniformly over its rasterized cells (the
standard homogeneity assumption), and a target zone collects the share of
every source it overlaps:

    est(b) = Σ_a  value(a) · |cells(a) ∩ cells(b)| / |cells(a)|

Exactness: the per-(a, b) contribution ships as floor fixed point
`value_a * shared * 1000000 DIV n_a` — all BIGINT (value ≤ ~1e6, shared ≤
n_a ≤ ~1e5 cells keeps the product ≤ 1e17), `DIV` / `//` truncate
identically in both engines, and the final per-target fold sums integers,
so aggregation order cannot shift a bit.

Scale shape: both zonations rasterize with the cover-then-refine device
(rasterize.py — bbox cell cover BROADCASTS, exact center-in-polygon
refine, all JVM-side); the transfer is ONE equi-join on the cell id
(never polygon x polygon), the weight denominators are a bounded per-zone
agg, and the source value table broadcasts. Work is Σ_cells
|sources(cell)| · |targets(cell)| — skewed only if one cell is covered by
many zones of BOTH families, which the zonation's own geometry bounds.
Pixels/vertices never enter the transfer exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES, sql_cover_bounds
from .rasterize import rasterize_to_cells

SCALE = 1_000_000


def areal_interpolate(
    src_polys: DataFrame,
    tgt_polys: DataFrame,
    src_vals: DataFrame,
    res: int = DEFAULT_RES,
) -> DataFrame:
    """(tpoly_id, n_src, shared_cells, est_e6): the interpolated measure
    per target zone. `src_vals` carries (poly_id, val) exact integers;
    targets overlapping no source emit no row (est 0 by definition)."""
    # each rasterization feeds two consumers (sizes + the transfer join /
    # the join + the guard); localCheckpoint pins the cover+refine pass
    # once per side instead of replaying it per subtree — id+cell rows,
    # linear in zone count
    sc = rasterize_to_cells(src_polys, res).localCheckpoint(eager=True)
    tc = rasterize_to_cells(tgt_polys, res).selectExpr(
        "poly_id AS tpoly_id", "cell"
    ).localCheckpoint(eager=True)
    sizes = sc.groupBy("poly_id").agg(F.count("*").alias("n_a"))
    shared = (
        sc.join(tc, "cell")
        .groupBy("poly_id", "tpoly_id")
        .agg(F.count("*").alias("shared"))
    )
    contrib = (
        shared.join(F.broadcast(sizes), "poly_id")
        .join(F.broadcast(src_vals), "poly_id")
        .selectExpr(
            "tpoly_id",
            "shared",
            f"CAST(val * shared * {SCALE} AS BIGINT) DIV n_a AS part_e6",
        )
    )
    return (
        contrib.groupBy("tpoly_id")
        .agg(
            F.count("*").cast("long").alias("n_src"),
            F.sum("shared").cast("long").alias("shared_cells"),
            F.sum("part_e6").cast("long").alias("est_e6"),
        )
    )


def oracle_areal_sql(
    src_edges_sql: str,
    tgt_edges_sql: str,
    src_val_sql: str,
    res: int = DEFAULT_RES,
) -> str:
    """DuckDB mirror: the rasterize cover+ray-cast CTE twice (source and
    target zone families), then the identical weight algebra. Joins key on
    raw (ix, iy) — bijective with the packed cell id at fixed res.

    src_val_sql: a SELECT yielding (poly_id, val)."""
    n = 1 << res
    cw = f"(360.0 / {float(n)})"
    ch = f"(180.0 / {float(n)})"

    def _ras(tag: str, edges_sql: str) -> str:
        ix0, iy0, ix1, iy1 = sql_cover_bounds("xmin", "ymin", "xmax", "ymax", res)
        return f"""{tag}_edges AS ({edges_sql}),
{tag}_bbox AS (
  SELECT poly_id, LEAST(MIN(ax), MIN(bx)) AS xmin,
         LEAST(MIN(ay), MIN(by)) AS ymin,
         GREATEST(MAX(ax), MAX(bx)) AS xmax,
         GREATEST(MAX(ay), MAX(by)) AS ymax
  FROM {tag}_edges GROUP BY poly_id
),
{tag}_cov AS (SELECT poly_id, {ix0} AS ix0, {iy0} AS iy0, {ix1} AS ix1, {iy1} AS iy1
              FROM {tag}_bbox),
{tag}_xs AS (SELECT poly_id, iy0, iy1,
                    unnest(generate_series(ix0, ix1)) AS ix
             FROM {tag}_cov),
{tag}_cells0 AS (SELECT poly_id, ix,
                        unnest(generate_series(iy0, iy1)) AS iy
                 FROM {tag}_xs),
{tag}_ctr AS (
  SELECT poly_id, ix, iy,
    (-180.0 + CAST(ix AS DOUBLE) * {cw}) + ({cw} / 2.0) AS px,
    (-90.0 + CAST(iy AS DOUBLE) * {ch}) + ({ch} / 2.0) AS py
  FROM {tag}_cells0
),
{tag}_cr AS (
  SELECT c.poly_id, c.ix, c.iy,
    SUM(CASE WHEN ((e.ay > c.py) != (e.by > c.py))
              AND (c.px < (e.bx - e.ax) * (c.py - e.ay) / (e.by - e.ay)
                   + e.ax)
        THEN 1 ELSE 0 END) AS crossings
  FROM {tag}_ctr c JOIN {tag}_edges e USING (poly_id)
  GROUP BY 1, 2, 3
),
{tag}_cells AS (SELECT poly_id, ix, iy FROM {tag}_cr
                WHERE crossings % 2 = 1)"""

    return f"""
WITH {_ras('s', src_edges_sql)},
{_ras('t', tgt_edges_sql)},
vals AS ({src_val_sql}),
sizes AS (SELECT poly_id, COUNT(*) AS n_a FROM s_cells GROUP BY 1),
shared AS (
  SELECT s.poly_id, t.poly_id AS tpoly_id, COUNT(*) AS shared
  FROM s_cells s JOIN t_cells t ON s.ix = t.ix AND s.iy = t.iy
  GROUP BY 1, 2
),
contrib AS (
  SELECT sh.tpoly_id, sh.shared,
    CAST(v.val * sh.shared * {SCALE} AS BIGINT) // z.n_a AS part_e6
  FROM shared sh
  JOIN sizes z ON z.poly_id = sh.poly_id
  JOIN vals v ON v.poly_id = sh.poly_id
)
SELECT tpoly_id,
  CAST(COUNT(*) AS BIGINT) AS n_src,
  CAST(SUM(shared) AS BIGINT) AS shared_cells,
  CAST(SUM(part_e6) AS BIGINT) AS est_e6
FROM contrib GROUP BY 1"""
