"""Morphological operations on cell covers: buffer (dilate), erode,
opening/closing — the GIS raster-algebra complement to the cover
machinery (polygon buffer ~ dilate its cell cover; noise removal ~
opening; hole filling ~ closing).

Semantics are on the quadtree grid (functions/cells.py): the structuring
element is the Chebyshev k-ring, clamped at the grid boundary exactly
like `k_ring` — so erosion at the world edge requires only the ring
cells that exist.

Scale shape: dilation is explode(k_ring) -> distinct — a (2k+1)^2
map-side fan-out whose single exchange carries CELL IDS only. Erosion
never self-joins the cover: because Chebyshev rings are symmetric
(p in ring(c) <=> c in ring(p)), every cover cell scatters one "witness"
to each ring neighbor and a cell survives iff its witness COUNT equals
its clamped ring size — one hash aggregation, map-side combined, again
ids only. Both are partitioning-independent set operations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import k_ring, sql_cell_ix, sql_cell_iy, sql_k_ring


def dilate_cover(cover: DataFrame, k: int, cell_col: str = "cell") -> DataFrame:
    """Buffer the cover by k rings: distinct union of every cell's clamped
    k-ring (at the cell's own resolution). Returns a single `cell` column
    (a SET of cells)."""
    return cover.select(F.explode(k_ring(cell_col, k)).alias("cell")).distinct()


def _ring_size(cell: str, k: int, res: int) -> str:
    n = 1 << res
    cx, cy = sql_cell_ix(cell), sql_cell_iy(cell)
    w = f"(LEAST({cx} + {k}, {n - 1}) - GREATEST({cx} - {k}, 0) + 1)"
    h = f"(LEAST({cy} + {k}, {n - 1}) - GREATEST({cy} - {k}, 0) + 1)"
    return f"CAST({w} * {h} AS BIGINT)"


def erode_cover(
    cover: DataFrame, k: int, res: int, cell_col: str = "cell"
) -> DataFrame:
    """Keep a cell iff its ENTIRE clamped k-ring is covered. Witness-count
    formulation (no cover-x-cover join): symmetric rings mean the witness
    count at c is exactly |ring(c) ∩ cover|."""
    base = cover.select(F.col(cell_col).alias("cell")).distinct()
    support = (
        base.select(F.explode(k_ring("cell", k)).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").cast("long").alias("witnesses"))
    )
    return (
        base.join(support, "cell")
        .where(f"witnesses = {_ring_size('cell', k, res)}")
        .select("cell")
    )


def close_cover(cover: DataFrame, k: int, res: int) -> DataFrame:
    """Morphological closing (dilate then erode): fills holes/gaps up to
    ~k cells without growing the overall footprint."""
    return erode_cover(dilate_cover(cover, k), k, res)


def open_cover(cover: DataFrame, k: int, res: int) -> DataFrame:
    """Morphological opening (erode then dilate): removes specks/spurs
    thinner than ~k cells without shrinking the overall footprint."""
    return dilate_cover(erode_cover(cover, k, res), k)


def morph_summary(cover: DataFrame, k: int, res: int) -> DataFrame:
    """(op, cell) union frame over dilate/erode/close/open of one cover —
    the driver-checkable shape (STRING + BIGINT)."""
    dil = dilate_cover(cover, k)
    arms = [
        dil.selectExpr("'dilate' AS op", "cell"),
        erode_cover(cover, k, res).selectExpr("'erode' AS op", "cell"),
        erode_cover(dil, k, res).selectExpr("'close' AS op", "cell"),
        dilate_cover(erode_cover(cover, k, res), k).selectExpr(
            "'open' AS op", "cell"
        ),
    ]
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.selectExpr("op", "CAST(cell AS BIGINT) AS cell")


def oracle_morph_sql(base_cover_sql: str, k: int) -> str:
    """DuckDB mirror over a CTE chain whose last CTE is `base(cell BIGINT)`
    (a distinct cell set). Dilation, the witness counts and the clamped
    ring size all come from the same k-ring text the Spark side runs
    (cells.sql_k_ring, DuckDB dialect)."""

    def ring(src: str) -> str:
        return f"SELECT unnest({sql_k_ring('cell', k, 'duckdb')}) AS cell FROM {src}"

    def survivors(src: str) -> str:
        # a cell survives erosion iff its witness count equals its ring size
        return (
            f"SELECT s.cell FROM (SELECT cell, len({sql_k_ring('cell', k, 'duckdb')}) AS need "
            f"FROM {src}) s JOIN (SELECT cell, COUNT(*) AS w FROM ({ring(src)}) GROUP BY 1) w "
            "ON s.cell = w.cell WHERE w.w = s.need"
        )

    return f"""
WITH {base_cover_sql},
dil AS MATERIALIZED (SELECT DISTINCT cell FROM ({ring("base")})),
ero AS MATERIALIZED ({survivors("base")}),
clo AS ({survivors("dil")}),
opn AS (SELECT DISTINCT cell FROM ({ring("ero")}))
SELECT 'dilate' AS op, CAST(cell AS BIGINT) AS cell FROM dil
UNION ALL SELECT 'erode', cell FROM ero
UNION ALL SELECT 'close', cell FROM clo
UNION ALL SELECT 'open', cell FROM opn
"""
