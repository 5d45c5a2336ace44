"""Integral-image box filter — the constant-time-per-pixel mean/box-sum
stage (blur, local brightness, SSD template matching all start here).

A box sum over a (2r+1)x(2r+1) window is the 4-corner difference of the
2-D prefix-sum table I (the integral image / summed-area table):

    box(r, c) = I[r+R+1, c+R+1] - I[r-R, c+R+1]
              - I[r+R+1, c-R]  + I[r-R, c-R]

so the per-pixel cost is O(1) REGARDLESS of the radius — the reason big
box kernels are never run as an explicit 49-arm (let alone 441-arm)
neighborhood scatter. Only interior pixels (full window inside the image)
emit, matching every blocked codec's clipping convention.

Scale shape: the integral image is a per-image numpy double-cumsum INSIDE
the decode mapInPandas — ZERO exchanges, pixels never become rows, and
per image only a 6-field census crosses Arrow: interior count, exact
box-sum total / min / max, and a position-weighted checksum (the
png_decode device) that pins every interior box value without shipping
them. All integers; sums budget: box <= 49*255, checksum <=
npix * 12495 * 1000003 ~ 5e13 per 4k-pixel image — mid-int64.

Parity: the DuckDB mirror recomputes every interior box sum as the LITERAL
49-offset neighborhood aggregation over the closed-form pixel formula —
an independent O(R^2)-per-pixel formulation, so agreement evidences the
summed-area algebra (cf. reference window/chunk clipping arithmetic,
crates/aira-tiff/src/metadata.rs:183-187).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

CHECK_MOD = 1_000_003


def box_filter_census(images: DataFrame, radius: int = 3) -> DataFrame:
    """(image_id, n_int, sum_box, min_box, max_box, checksum) — census of
    the (2*radius+1)^2 box sums over all interior band-0 pixels."""
    from collections.abc import Iterator

    import pandas as pd

    from ..functions.udfs import decoded_images

    cols = ["image_id", "n_int", "sum_box", "min_box", "max_box", "checksum"]
    R = radius

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for rec, _, px in decoded_images(pdf, max_bands=1):
                a = px[:, :, 0].astype(np.int64)
                h, w = a.shape
                if h < 2 * R + 1 or w < 2 * R + 1:
                    continue
                # summed-area table with a zero border: I[i, j] = sum of
                # a[:i, :j]; shape (h+1, w+1)
                sat = np.zeros((h + 1, w + 1), dtype=np.int64)
                np.cumsum(np.cumsum(a, axis=0), axis=1, out=sat[1:, 1:])
                box = (
                    sat[2 * R + 1:, 2 * R + 1:]
                    - sat[: h - 2 * R, 2 * R + 1:]
                    - sat[2 * R + 1:, : w - 2 * R]
                    + sat[: h - 2 * R, : w - 2 * R]
                )  # (h-2R, w-2R) interior box sums
                ri, ci = np.meshgrid(
                    np.arange(R, h - R, dtype=np.int64),
                    np.arange(R, w - R, dtype=np.int64),
                    indexing="ij",
                )
                wts = (ri * w + ci) % CHECK_MOD
                out.append((
                    rec.image_id,
                    int(box.size),
                    int(box.sum()),
                    int(box.min()),
                    int(box.max()),
                    int((box * wts).sum()),
                ))
            yield pd.DataFrame(out, columns=cols)

    return images.select("image_id", "bytes").mapInPandas(
        fn,
        schema=("image_id string, n_int long, sum_box long, "
                "min_box long, max_box long, checksum long"),
    )


def oracle_box_filter_sql(px_cte: str, radius: int = 3) -> str:
    """DuckDB mirror over a CTE chain ending in px(image_id, k, w, h, r, c)
    — brute-force (2R+1)^2 neighborhood sums per interior pixel, then the
    same census; independent of the summed-area formulation."""
    R = radius
    return f"""
WITH {px_cte},
arms AS (
  SELECT image_id, w, r + o.dy AS tr, c + o.dx AS tc,
         ((r * 7 + c * 13 + k) % 256) AS val
  FROM px,
       (SELECT ux.dx, uy.dy
        FROM unnest(generate_series(-{R}, {R})) AS ux(dx),
             unnest(generate_series(-{R}, {R})) AS uy(dy)) AS o
),
boxes AS (
  SELECT image_id, w, tr AS r, tc AS c, CAST(SUM(val) AS BIGINT) AS box
  FROM arms
  GROUP BY 1, 2, 3, 4
  HAVING COUNT(*) = {(2 * R + 1) ** 2}
)
SELECT image_id,
  CAST(COUNT(*) AS BIGINT) AS n_int,
  CAST(SUM(box) AS BIGINT) AS sum_box,
  CAST(MIN(box) AS BIGINT) AS min_box,
  CAST(MAX(box) AS BIGINT) AS max_box,
  CAST(SUM(box * ((r * w + c) % {CHECK_MOD})) AS BIGINT) AS checksum
FROM boxes GROUP BY 1"""
