"""Inter-band correlation QA: exact integer Pearson sufficient statistics
between band pairs of every image — the remote-sensing registration /
duplicate-band check (a mis-registered or duplicated band shows up as an
extreme correlation; a dead sensor as zero variance).

All sufficient statistics are EXACT BIGINT sums from one Arrow decode
pass; the correlation itself divides and square-roots, so the CHECKED
classification compares r² against rational thresholds as a 128-bit
cross-multiplied inequality instead (the gi_hotspots device — no libm,
no doubles in the checked output):

    r² >= num/den   <=>   den * cov_n² >= num * var_xn * var_yn

with cov_n = n·Σxy − Σx·Σy, var_xn = n·Σx² − (Σx)². Magnitude budget at
the IMG_SCALE=8 maximum (n ≤ 196608, v ≤ 255): each statistic ≤ ~2.5e15
(BIGINT-safe) and the cross-products ≤ ~6.3e34 — inside DECIMAL(38,0)/
HUGEINT with 3 orders of headroom. The sign of cov_n rides along as its
own column, so an anti-correlated duplicate (inverted band) still
classifies 'dup_band' via cov_n².

Classes at |r| thresholds 0.99 (dup/misregistered) and 0.5 (correlated):
'dup_band' / 'correlated' / 'independent' / 'degenerate' (zero variance
on either side).

Scale shape: the only exchange payload is six bounded integers per
(image, band-pair) — pairs of the ≤3 synthetic bands; classification is
a pure projection. Pixels never shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

# r² thresholds as exact rationals: 0.99² = 9801/10000, 0.5² = 1/4
T_DUP_NUM, T_DUP_DEN = 9801, 10000
T_COR_NUM, T_COR_DEN = 1, 4


def class_expr() -> str:
    """Shared classification text over (cov_n, var_xn, var_yn) — identical
    in Spark (DECIMAL(38,0)) and DuckDB (the caller swaps the widener)."""
    return _class_expr("CAST({} AS DECIMAL(38,0))")


def _class_expr(w: str) -> str:
    c2 = f"{w.format('cov_n')} * cov_n"
    vv = f"{w.format('var_xn')} * var_yn"
    return (
        f"CASE WHEN var_xn = 0 OR var_yn = 0 THEN 'degenerate' "
        f"WHEN {T_DUP_DEN} * {c2} >= {T_DUP_NUM} * {vv} THEN 'dup_band' "
        f"WHEN {T_COR_DEN} * {c2} >= {T_COR_NUM} * {vv} THEN 'correlated' "
        f"ELSE 'independent' END AS corr_class"
    )


def band_correlation(images: DataFrame) -> DataFrame:
    """(image_id, band_x, band_y, n_px, cov_n, var_xn, var_yn, corr_class)
    for every unordered band pair (x < y) of every multi-band image;
    single-band images emit nothing."""
    import numpy as np
    import pandas as pd

    from ..functions.udfs import decoded_images

    cols = [
        "image_id", "band_x", "band_y", "n_px",
        "cov_n", "var_xn", "var_yn",
    ]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for rec, _, px in decoded_images(pdf):
                spp = px.shape[2]
                if spp < 2:
                    continue
                flat = [
                    px[:, :, s].astype(np.int64).ravel() for s in range(spp)
                ]
                n = int(flat[0].size)
                s1 = [int(v.sum()) for v in flat]
                s2 = [int((v * v).sum()) for v in flat]
                for sx in range(spp):
                    for sy in range(sx + 1, spp):
                        sxy = int((flat[sx] * flat[sy]).sum())
                        out.append((
                            rec.image_id, sx, sy, n,
                            n * sxy - s1[sx] * s1[sy],
                            n * s2[sx] - s1[sx] * s1[sx],
                            n * s2[sy] - s1[sy] * s1[sy],
                        ))
            yield pd.DataFrame(out, columns=cols)

    raw = images.select("image_id", "bytes").mapInPandas(
        fn,
        schema=(
            "image_id string, band_x long, band_y long, n_px long,"
            " cov_n long, var_xn long, var_yn long"
        ),
    )
    return raw.selectExpr(
        "image_id", "band_x", "band_y", "n_px",
        "cov_n", "var_xn", "var_yn", class_expr(),
    )


def oracle_bandcorr_sql(bands_cte: str) -> str:
    """DuckDB mirror over the bands CTE (one row per pixel per band): the
    identical sufficient statistics via a band self-join on pixel
    position, then the same cross-multiplied classification (HUGEINT)."""
    return f"""
WITH {bands_cte},
bv AS (
  SELECT image_id, CAST(s AS BIGINT) AS band, r, c,
         CAST((r * 7 + c * 13 + s * 29 + k) % 256 AS BIGINT) AS v
  FROM bands
),
pairs AS (
  SELECT a.image_id, a.band AS band_x, b.band AS band_y,
    CAST(COUNT(*) AS BIGINT) AS n_px,
    CAST(SUM(a.v) AS BIGINT) AS sx, CAST(SUM(b.v) AS BIGINT) AS sy,
    CAST(SUM(a.v * b.v) AS BIGINT) AS sxy,
    CAST(SUM(a.v * a.v) AS BIGINT) AS sx2,
    CAST(SUM(b.v * b.v) AS BIGINT) AS sy2
  FROM bv a JOIN bv b
    ON a.image_id = b.image_id AND a.r = b.r AND a.c = b.c
   AND a.band < b.band
  GROUP BY 1, 2, 3
),
st AS (
  SELECT image_id, band_x, band_y, n_px,
    CAST(n_px * sxy - sx * sy AS BIGINT) AS cov_n,
    CAST(n_px * sx2 - sx * sx AS BIGINT) AS var_xn,
    CAST(n_px * sy2 - sy * sy AS BIGINT) AS var_yn
  FROM pairs
)
SELECT image_id, band_x, band_y, n_px, cov_n, var_xn, var_yn,
  {_class_expr("CAST({} AS HUGEINT)")}
FROM st"""
