"""Hilbert-curve spatial layout — the locality-optimal sibling of the
Z-order layout (functions/cells.py:morton_key, operators/mortonq.py).

Consecutive Hilbert keys are ALWAYS L1-adjacent grid cells, where Morton
jumps across the grid at every quadrant seam; a Hilbert-sorted file
layout therefore turns a bbox scan into fewer, longer contiguous key
stretches — the same row-group-stats pruning payoff with a smaller range
count. The key itself is a pure per-row projection (zero shuffles): the
iterative xy→d walk runs vectorized over whole Arrow batches in numpy;
the DuckDB mirror runs the identical walk as one linear CTE chain per
level (functions/cells.py:sql_hilbert_cte)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES, morton_key, np_hilbert_key, sql_ix, sql_iy


def hilbert_layout(points: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(point_id, ix, iy, hkey, mkey): grid cell + Hilbert + Morton keys
    for every point — the layout projection a writer sorts by."""

    @F.pandas_udf("long")
    def _hkey(ix: pd.Series, iy: pd.Series) -> pd.Series:
        return pd.Series(
            np_hilbert_key(ix.to_numpy(), iy.to_numpy(), res)
        )

    g = points.selectExpr(
        "CAST(point_id AS BIGINT) AS point_id",
        f"{sql_ix('x', res)} AS ix",
        f"{sql_iy('y', res)} AS iy",
    )
    return g.select(
        "point_id",
        "ix",
        "iy",
        _hkey("ix", "iy").alias("hkey"),
        morton_key(F.col("ix"), F.col("iy"), res).alias("mkey"),
    )


def _sql_morton(x: str, y: str, res: int) -> str:
    terms = []
    for b in range(res):
        terms.append(f"(({x} // {1 << b}) % 2) * {1 << (2 * b)}")
        terms.append(f"(({y} // {1 << b}) % 2) * {1 << (2 * b + 1)}")
    return "(" + " + ".join(terms) + ")"


def oracle_hilbert_sql(points_sql: str, res: int = DEFAULT_RES) -> str:
    """DuckDB mirror over `points_sql` (point_id, x, y)."""
    from ..functions.cells import sql_hilbert_cte

    grid = f"SELECT point_id AS id, {sql_ix('x', res)} AS x, {sql_iy('y', res)} AS y FROM p"
    return f"""
WITH p AS ({points_sql}),
g AS ({grid}),
{sql_hilbert_cte("SELECT id, x, y FROM g", res)}
SELECT CAST(g.id AS BIGINT) AS point_id,
  g.x AS ix, g.y AS iy, h.hkey,
  CAST({_sql_morton("g.x", "g.y", res)} AS BIGINT) AS mkey
FROM g JOIN hfin h ON h.id = g.id
"""
