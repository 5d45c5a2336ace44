"""Ordered (Bayer-matrix) dithering — the classic halftoning stage that
binarizes a grayscale raster against a tiled threshold matrix, preserving
local average intensity. Unlike error-diffusion (Floyd-Steinberg), the
ordered variant is POINTWISE — out(r, c) depends only on in(r, c) and
(r % 4, c % 4) — which is exactly what makes it the halftone of choice at
scale: embarrassingly parallel, deterministic under any partitioning, and
expressible as one vectorized compare inside the decode UDF.

Threshold rule (the standard mid-rise quantization of the index matrix):

    on(r, c)  <=>  v >= BAYER4[r % 4][c % 4] * 16 + 8

with BAYER4 the canonical 4x4 index matrix (0..15, each exactly once per
tile), so a flat region of value v lights up round(v/16)-ish of every 16
pixels — the intensity-preserving property.

Scale shape: per-image census only (n_px, n_on, positional checksum of
the ON set) crosses Arrow — pixels never become rows, ZERO exchanges
before the final hash agg of 4 integers per image. Checksum budget:
npix * CHECK_MOD < 4e9 * 1e6 fits int64 for any realistic tile.

Parity: the DuckDB mirror recomputes every pixel from the closed-form
generation formula and indexes the same 16 literals — one formula, two
engines (cf. reference chunk clipping arithmetic,
crates/aira-tiff/src/metadata.rs:183-187 for the decode-side dims).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

CHECK_MOD = 1_000_003

BAYER4 = np.array(
    [[0, 8, 2, 10], [12, 4, 14, 6], [3, 11, 1, 9], [15, 7, 13, 5]],
    dtype=np.int64,
)


def dither_census(images: DataFrame) -> DataFrame:
    """(image_id, n_px, n_on, checksum): ordered-dither binarization census
    of band 0 — checksum = sum((r*w + c) % CHECK_MOD) over ON pixels."""
    from collections.abc import Iterator

    import pandas as pd

    from ..functions.udfs import decoded_images

    cols = ["image_id", "n_px", "n_on", "checksum"]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for rec, _, px in decoded_images(pdf, max_bands=1):
                a = px[:, :, 0].astype(np.int64)
                h, w = a.shape
                thr = (
                    BAYER4[
                        np.arange(h, dtype=np.int64)[:, None] % 4,
                        np.arange(w, dtype=np.int64)[None, :] % 4,
                    ]
                    * 16
                    + 8
                )
                on = a >= thr
                ri, ci = np.nonzero(on)
                chk = int(
                    ((ri.astype(np.int64) * w + ci) % CHECK_MOD).sum()
                )
                out.append((rec.image_id, h * w, int(on.sum()), chk))
            yield pd.DataFrame(out, columns=cols)

    return images.select("image_id", "bytes").mapInPandas(
        fn, schema="image_id string, n_px long, n_on long, checksum long"
    )


def oracle_dither_sql(px_cte: str) -> str:
    """DuckDB mirror over a CTE chain ending in px(image_id, k, w, h, r, c):
    the same threshold rule over the closed-form pixel value."""
    flat = ", ".join(str(int(v)) for v in BAYER4.ravel())
    return f"""
WITH {px_cte},
d AS (
  SELECT image_id, w,  r, c,
    CASE WHEN ((r * 7 + c * 13 + k) % 256)
          >= ([{flat}])[(r % 4) * 4 + (c % 4) + 1] * 16 + 8
         THEN 1 ELSE 0 END AS onpx
  FROM px
)
SELECT image_id,
  CAST(COUNT(*) AS BIGINT) AS n_px,
  CAST(SUM(onpx) AS BIGINT) AS n_on,
  CAST(SUM(onpx * ((r * w + c) % {CHECK_MOD})) AS BIGINT) AS checksum
FROM d GROUP BY 1"""
