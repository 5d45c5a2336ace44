"""RGB -> luma (grayscale) conversion census — ITU-R BT.601 in the exact
integer form every codec uses (`Y = (299*R + 587*G + 114*B) DIV 1000`,
the fixed-point rendition of 0.299/0.587/0.114): the single most common
image preprocessing stage (thumbnailing, OCR, perceptual hashing, model
ingest all start grayscale).

Pointwise per pixel, so the operator is a pure vectorized map inside the
decode UDF over the 3-band subset of the corpus; only a 5-integer census
(n_px, sum/min/max of Y, positional checksum) crosses Arrow per image —
pixels never become rows, ZERO pre-agg exchanges. The weights sum to
1000, so Y stays in 0..255 and every quantity is small-int64.

Parity: the DuckDB mirror recomputes Y from the closed-form 3-band pixel
formula `(r*7 + c*13 + s*29 + k) % 256` with the same integer weights
and floor division — one formula, two engines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

CHECK_MOD = 1_000_003
WR, WG, WB = 299, 587, 114  # BT.601 fixed-point, sums to 1000


def luma_census(images: DataFrame) -> DataFrame:
    """(image_id, n_px, sum_y, min_y, max_y, checksum) over band 0/1/2 of
    every image that carries >= 3 bands."""
    from collections.abc import Iterator

    import pandas as pd

    from ..functions.udfs import decoded_images

    cols = ["image_id", "n_px", "sum_y", "min_y", "max_y", "checksum"]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for rec, _, px in decoded_images(pdf, max_bands=3):
                if px.shape[2] < 3:
                    continue
                b = px.astype(np.int64)
                y = (WR * b[:, :, 0] + WG * b[:, :, 1] + WB * b[:, :, 2]) // 1000
                h, w = y.shape
                ri, ci = np.meshgrid(
                    np.arange(h, dtype=np.int64),
                    np.arange(w, dtype=np.int64),
                    indexing="ij",
                )
                wts = (ri * w + ci) % CHECK_MOD
                out.append((
                    rec.image_id,
                    h * w,
                    int(y.sum()),
                    int(y.min()),
                    int(y.max()),
                    int((y * wts).sum()),
                ))
            yield pd.DataFrame(out, columns=cols)

    return images.select("image_id", "bytes").mapInPandas(
        fn,
        schema=("image_id string, n_px long, sum_y long, min_y long,"
                " max_y long, checksum long"),
    )


def oracle_luma_sql(px3_cte: str) -> str:
    """DuckDB mirror over a CTE ending in px(image_id, k, w, h, r, c):
    3-band closed-form values, same integer weights + floor division."""

    def band(s: int) -> str:
        return f"((r * 7 + c * 13 + {s} * 29 + k) % 256)"

    y = f"(({WR} * {band(0)} + {WG} * {band(1)} + {WB} * {band(2)}) // 1000)"
    return f"""
WITH {px3_cte},
lum AS (SELECT image_id, w, r, c, {y} AS y FROM px)
SELECT image_id,
  CAST(COUNT(*) AS BIGINT) AS n_px,
  CAST(SUM(y) AS BIGINT) AS sum_y,
  CAST(MIN(y) AS BIGINT) AS min_y,
  CAST(MAX(y) AS BIGINT) AS max_y,
  CAST(SUM(y * ((r * w + c) % {CHECK_MOD})) AS BIGINT) AS checksum
FROM lum GROUP BY 1"""
