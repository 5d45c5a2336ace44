"""Global SSIM (structural similarity, Wang et al. 2004) between band
pairs of every multi-band image — the perceptual companion to
bandcorr.py's Pearson QA: SSIM decomposes into luminance x contrast x
structure, so a duplicated-but-rescaled band scores high while a
dead/offset sensor drops the luminance term that plain correlation
ignores.

Exactness: with exact BIGINT sufficient statistics (n, Sx, Sy, Sxx, Syy,
Sxy) from one Arrow decode pass, every SSIM factor becomes an integer
once the standard constants C1 = (0.01*255)^2 = 2601/400 and
C2 = (0.03*255)^2 = 23409/400 are cross-multiplied by 400*n^2 (which
cancels in the ratio):

    a_l = 800*Sx*Sy             + 2601*n^2     (2*mux*muy + C1)
    b_l = 800*cov_n             + 23409*n^2    (2*sigxy   + C2)
    c_l = 400*(Sx^2 + Sy^2)     + 2601*n^2     (mux^2 + muy^2 + C1)
    d_l = 400*(varxn + varyn)   + 23409*n^2    (sigx^2 + sigy^2 + C2)

with cov_n = n*Sxy - Sx*Sy, varxn = n*Sxx - Sx^2. Overflow budget at the
IMG_SCALE=8 maximum (n <= 196608, v <= 255): each factor <= ~2.1e18 —
inside int64. c_l, d_l >= 2601*n^2 > 0 so the ratio is total. ssim_e6 =
floor(a_l*b_l / (c_l*d_l) * 1e6) crosses into doubles ONLY through the
one pinned IEEE chain below (the bm25/mwu rule: each int64 factor cast
separately, identical operation order in both engines — a_l*b_l would
overflow even HUGEINT at ~4e36, so doubles are the sound choice).

Scale shape: pixels cross Arrow once in the decode; the only exchange
payload is six bounded integers per (image, band-pair); the SSIM itself
is a pure projection. No join, no shuffle of pixel data."""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

SIMILAR_E6 = 900_000    # ssim >= 0.9: perceptually-duplicate band pair

# one formula, two engines: identical text in Spark SQL and DuckDB
FACTORS_SQL = (
    "800 * sx * sy + 2601 * n_px * n_px AS a_l",
    "800 * (n_px * sxy - sx * sy) + 23409 * n_px * n_px AS b_l",
    "400 * (sx * sx + sy * sy) + 2601 * n_px * n_px AS c_l",
    "400 * ((n_px * sxx - sx * sx) + (n_px * syy - sy * sy))"
    " + 23409 * n_px * n_px AS d_l",
)
SSIM_SQL = (
    "CAST(FLOOR(((CAST(a_l AS DOUBLE) * CAST(b_l AS DOUBLE))"
    " / (CAST(c_l AS DOUBLE) * CAST(d_l AS DOUBLE))) * 1000000.0)"
    " AS BIGINT) AS ssim_e6"
)


def ssim_bands(images: DataFrame) -> DataFrame:
    """(image_id, band_x, band_y, n_px, a_l, b_l, c_l, d_l, ssim_e6,
    similar): global SSIM (floor x1e6) for every unordered band pair
    (x < y) of every multi-band image; single-band images emit nothing.
    The four integer factors ship alongside so any cross-engine diff
    localizes to input stats vs the final double chain."""
    import numpy as np
    import pandas as pd

    from ..functions.udfs import decoded_images

    cols = ["image_id", "band_x", "band_y", "n_px",
            "sx", "sy", "sxx", "syy", "sxy"]

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
                for bx in range(spp):
                    for by in range(bx + 1, spp):
                        out.append((
                            rec.image_id, bx, by, n,
                            s1[bx], s1[by], s2[bx], s2[by],
                            int((flat[bx] * flat[by]).sum()),
                        ))
            yield pd.DataFrame(out, columns=cols)

    raw = images.select("image_id", "bytes").mapInPandas(
        fn,
        schema=(
            "image_id string, band_x long, band_y long, n_px long,"
            " sx long, sy long, sxx long, syy long, sxy long"
        ),
    )
    return (
        raw.selectExpr(
            "image_id", "band_x", "band_y", "n_px", *FACTORS_SQL
        )
        .selectExpr(
            "image_id", "band_x", "band_y", "n_px",
            "a_l", "b_l", "c_l", "d_l", SSIM_SQL,
        )
        .selectExpr(
            "*", f"CAST(ssim_e6 >= {SIMILAR_E6} AS BIGINT) AS similar",
        )
    )


def oracle_ssim_sql(bands_cte: str) -> str:
    """DuckDB mirror over the bands CTE (one row per pixel per band):
    identical sufficient statistics via the pixel-position self-join,
    then the VERBATIM factor + pinned-double SSIM texts."""
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
    CAST(SUM(a.v * a.v) AS BIGINT) AS sxx,
    CAST(SUM(b.v * b.v) AS BIGINT) AS syy,
    CAST(SUM(a.v * b.v) AS BIGINT) AS sxy
  FROM bv a JOIN bv b
    ON a.image_id = b.image_id AND a.r = b.r AND a.c = b.c
   AND a.band < b.band
  GROUP BY 1, 2, 3
),
fac AS (
  SELECT image_id, band_x, band_y, n_px,
    {", ".join(FACTORS_SQL)}
  FROM pairs
),
sm AS (
  SELECT image_id, band_x, band_y, n_px, a_l, b_l, c_l, d_l, {SSIM_SQL}
  FROM fac
)
SELECT image_id, band_x, band_y, n_px, a_l, b_l, c_l, d_l, ssim_e6,
  CAST(ssim_e6 >= {SIMILAR_E6} AS BIGINT) AS similar
FROM sm"""
