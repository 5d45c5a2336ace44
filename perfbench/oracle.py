"""Independent references: DuckDB over the same generated key tables.

Every expected result reuses the oracle text of __spark_entry__.oracle_sql()
with the benchmark query's parameters substituted (polygon / query-point
subsets through table views, window corners, distance, image selection).
Results on both engines are projected to integer columns with the same SQL
text and reduced to the same order-insensitive digest (digest_rows).
"""

from __future__ import annotations

import hashlib
import os

import duckdb
from pyspark.sql import DataFrame

# integer projections of each query's result, valid in Spark SQL and DuckDB
PAIRS = ["point_id", "substr(poly_id, 5)"]
KNN = ["query_id", "neighbor_id", "rnk"]
WITHIN = ["query_id", "point_id"]
WINDOW = ["substr(image_id, 4)", "chunk_idx", "n_px", "sum_px"]
ZONAL = ["cell", "n_px", "sum_px", "min_px", "max_px"]
TILE_CELLS = ["cell", "n_images", "n_points", "COALESCE(sum_px, 0)", "COALESCE(n_px, 0)"]
TILES = ["tile_key", "chunk_idx", "origin_x", "origin_y", "size_x", "size_y", "nbytes"]


def projection(exprs: list[str]) -> list[str]:
    return [f"CAST({e} AS BIGINT) AS d{i}" for i, e in enumerate(exprs)]


def digest_rows(rows) -> tuple[int, ...]:
    """Order-insensitive digest of integer rows: count, per-column sums and
    the sum mod 2^64 of a 64-bit hash of each row (a non-linear row hash, so
    values moved between rows change it even when column sums do not)."""
    rows = [tuple(int(v) for v in r) for r in rows]
    width = len(rows[0]) if rows else 0
    sums = [sum(r[i] for r in rows) for i in range(width)]
    hashes = sum(
        int.from_bytes(hashlib.blake2b(repr(r).encode(), digest_size=8).digest(), "little")
        for r in rows
    ) % 2**64
    return (len(rows), *sums, hashes)


def spark_digest(df: DataFrame, exprs: list[str]) -> tuple[int, ...]:
    """Collect the projected result (small: per-query answers) and digest it."""
    return digest_rows(df.selectExpr(*projection(exprs)).collect())


def _sub(sql: str, *pairs: tuple[str, str]) -> str:
    """Substitute query parameters into oracle text; each must occur once."""
    for old, new in pairs:
        if sql.count(old) != 1:
            raise ValueError(f"oracle text has {sql.count(old)} occurrences of {old!r}")
        sql = sql.replace(old, new)
    return sql


class Oracle:
    def __init__(self, tables: dict[str, str], tmp_dir: str):
        import __spark_entry__ as em

        self.em = em
        self.sql = em.oracle_sql()
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        for name, path in tables.items():
            self.con.execute(f"CREATE TABLE {name}_all AS SELECT * FROM read_parquet('{path}')")
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM {name}_all")

    def close(self) -> None:
        self.con.close()

    def _restrict(self, table: str, key: str, keys: list[int] | None) -> None:
        where = "" if keys is None else f" WHERE {key} IN ({', '.join(map(str, keys))})"
        self.con.execute(f"CREATE OR REPLACE VIEW {table} AS SELECT * FROM {table}_all{where}")

    def digest(self, sql: str, exprs: list[str]) -> tuple[int, ...]:
        return digest_rows(self.con.execute(f"SELECT {', '.join(projection(exprs))} FROM ({sql}) q").fetchall())

    # ---- spatial_queries
    def pip(self, poly_keys: list[int]) -> tuple[int, ...]:
        self._restrict("nation", "n_nationkey", poly_keys)
        try:
            return self.digest(self.sql["pip"], PAIRS)
        finally:
            self._restrict("nation", "n_nationkey", None)

    def knn(self, query_keys: list[int]) -> tuple[int, ...]:
        self._restrict("supplier", "s_suppkey", query_keys)
        try:
            return self.digest(f"SELECT * FROM ({self.sql['knn']}) WHERE metric = 'deg'", KNN)
        finally:
            self._restrict("supplier", "s_suppkey", None)

    def within(self, query_keys: list[int], d: float) -> tuple[int, ...]:
        self._restrict("supplier", "s_suppkey", query_keys)
        try:
            q = _sub(self.sql["within_distance"], ("WHERE dist <= 2.0", f"WHERE dist <= CAST({d!r} AS DOUBLE)"))
            return self.digest(f"SELECT * FROM ({q}) WHERE metric = 'deg'", WITHIN)
        finally:
            self._restrict("supplier", "s_suppkey", None)

    def window(self, win: tuple[float, float, float, float]) -> tuple[int, ...]:
        ox0, oy0, ox1, oy1 = self.em._WIN
        x0, y0, x1, y1 = win
        q = _sub(
            self.sql["window_read"],
            (f"* sx < {ox1}", f"* sx < CAST({x1!r} AS DOUBLE)"),
            (f"* sx > {ox0}", f"* sx > CAST({x0!r} AS DOUBLE)"),
            (f"* sy < {oy1}", f"* sy < CAST({y1!r} AS DOUBLE)"),
            (f"* sy > {oy0}", f"* sy > CAST({y0!r} AS DOUBLE)"),
        )
        return self.digest(q, WINDOW)

    def zonal_in_partitions(self, win, margin: float, part_res: int) -> tuple[int, ...]:
        """Zonal stats over the images a partition-pruned window read
        returns: footprint-center cell at part_res inside the cell range of
        the window grown by margin (the same rule the by-cell layout and its
        pruned reader state in prose, written here from scratch)."""
        n = float(1 << part_res)
        x0, y0, x1, y1 = win[0] - margin, win[1] - margin, win[2] + margin, win[3] + margin

        def lo(v, a, span):
            return f"LEAST(GREATEST(FLOOR(({v} - ({a})) / {span} * {n}), 0), {n - 1})"

        def hi(v, a, span):
            return f"LEAST(GREATEST(CEIL(({v} - ({a})) / {span} * {n}) - 1, 0), {n - 1})"

        def dbl(x: float) -> str:
            # a bare literal would parse as DECIMAL and overflow in the arithmetic
            return f"CAST({x!r} AS DOUBLE)"

        ccx = "(cx + CAST(w AS DOUBLE) * sx / 2.0)"
        ccy = "((cy + h * sy) - CAST(h AS DOUBLE) * sy / 2.0)"
        pred = (
            f"{lo(ccx, -180.0, 360.0)} BETWEEN {lo(dbl(x0), -180.0, 360.0)} "
            f"AND GREATEST({hi(dbl(x1), -180.0, 360.0)}, {lo(dbl(x0), -180.0, 360.0)}) "
            f"AND {lo(ccy, -90.0, 180.0)} BETWEEN {lo(dbl(y0), -90.0, 180.0)} "
            f"AND GREATEST({hi(dbl(y1), -90.0, 180.0)}, {lo(dbl(y0), -90.0, 180.0)})"
        )
        return self.digest(_sub(self.sql["zonal_stats"], ("WHERE k % 8 = 0", f"WHERE {pred}")), ZONAL)

    # ---- tile_join
    def tile_cells(self) -> tuple[int, ...]:
        """Per-cell (n_images, n_points, sum_px, n_px) of the flagship pass:
        footprint cover joined with point cells, left-joined with band-0
        pixel sums of every image."""
        from aira_spark.sources.vectors import points_oracle_sql

        zon = _sub(self.sql["zonal_stats"], ("WHERE k % 8 = 0", "WHERE TRUE"))
        q = f"""
WITH cov AS ({self.sql['cell_cover']}),
pc AS (SELECT point_id, {self.em._sql_cell('x', 'y')} AS cell FROM ({points_oracle_sql()})),
zon AS ({zon}),
j AS (SELECT c.cell, COUNT(DISTINCT c.image_id) AS n_images,
             COUNT(DISTINCT p.point_id) AS n_points
      FROM cov c JOIN pc p ON c.cell = p.cell GROUP BY c.cell)
SELECT j.cell, n_images, n_points, zon.sum_px, zon.n_px
FROM j LEFT JOIN zon ON j.cell = zon.cell"""
        return self.digest(q, TILE_CELLS)

    def chunk_count(self) -> int:
        return self.con.execute(f"SELECT COUNT(*) FROM ({self.sql['tile_assign']})").fetchone()[0]

    # ---- checkpoint_resume
    def tiles(self, src_path: str, update_pred: str | None = None, delta: int = 0) -> tuple[int, ...]:
        """Digest of the tiles stage source, optionally with the merge update
        (nbytes + delta where update_pred holds) applied."""
        nb = "nbytes" if update_pred is None else f"CASE WHEN {update_pred} THEN nbytes + {delta} ELSE nbytes END"
        q = (
            "SELECT tile_key, chunk_idx, origin_x, origin_y, size_x, size_y, "
            f"{nb} AS nbytes FROM read_parquet('{src_path}/*.parquet')"
        )
        return self.digest(q, TILES)
