"""SSD template matching — the `cv2.matchTemplate(TM_SQDIFF)` primitive:
slide a small template over every valid offset of the image and score

    SSD(r, c) = sum_{u,v} (I(r+u, c+v) - T(u, v))^2

then report the best match. Exact integers throughout (byte pixels,
integer template), and the argmin is made deterministic by taking the
lexicographically SMALLEST position among ties — so the census is a pure
function of the pixels at any parallelism.

The 4x4 template is a fixed closed-form pattern (shared constant text in
both engines), covering the parity question: the Spark side scores it
with a vectorized stack of shifted views (16 adds over full arrays — the
im2col trick, no per-offset Python), the DuckDB mirror brute-forces the
16 arms per offset.

Scale shape: census-only (min SSD, its position, offsets count, and the
mean-SSD numerator for contrast) crosses Arrow per image; pixels never
become rows, zero pre-agg exchanges. Budget: SSD <= 16 * 255^2 ~ 1e6,
sum over <= 4e9 offsets stays mid-int64.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

TH, TW = 4, 4


def template_4x4() -> np.ndarray:
    """The fixed integer template ((u*3 + v*5) % 7) * 36 — values 0..216."""
    u = np.arange(TH, dtype=np.int64)[:, None]
    v = np.arange(TW, dtype=np.int64)[None, :]
    return ((u * 3 + v * 5) % 7) * 36


def template_match(images: DataFrame) -> DataFrame:
    """(image_id, n_off, min_ssd, best_r, best_c, sum_ssd): best SSD match
    of the fixed 4x4 template over band 0; ties -> smallest (r, c)."""
    from collections.abc import Iterator

    import pandas as pd

    from ..functions.udfs import decoded_images

    T = template_4x4()
    cols = ["image_id", "n_off", "min_ssd", "best_r", "best_c", "sum_ssd"]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for rec, _, px in decoded_images(pdf, max_bands=1):
                a = px[:, :, 0].astype(np.int64)
                h, w = a.shape
                if h < TH or w < TW:
                    continue
                oh, ow = h - TH + 1, w - TW + 1
                ssd = np.zeros((oh, ow), dtype=np.int64)
                for u in range(TH):
                    for v in range(TW):
                        d = a[u:u + oh, v:v + ow] - T[u, v]
                        ssd += d * d
                best = int(ssd.min())
                # lexicographically smallest (r, c) among ties
                ri, ci = np.nonzero(ssd == best)
                k = np.lexsort((ci, ri))[0]
                out.append((
                    rec.image_id,
                    oh * ow,
                    best,
                    int(ri[k]),
                    int(ci[k]),
                    int(ssd.sum()),
                ))
            yield pd.DataFrame(out, columns=cols)

    return images.select("image_id", "bytes").mapInPandas(
        fn,
        schema=("image_id string, n_off long, min_ssd long, best_r long,"
                " best_c long, sum_ssd long"),
    )


def oracle_template_sql(px_cte: str) -> str:
    """DuckDB mirror over a CTE ending in px(image_id, k, w, h, r, c):
    per-offset 16-arm brute force, argmin via lexicographic ROW_NUMBER."""
    T = template_4x4()
    def arm(u: int, v: int) -> str:
        d = f"((((r + {u}) * 7 + (c + {v}) * 13 + k) % 256) - {int(T[u, v])})"
        return f"({d} * {d})"  # integer square — no POWER/double detour

    arms = " + ".join(arm(u, v) for u in range(TH) for v in range(TW))
    return f"""
WITH {px_cte},
offs AS (
  SELECT image_id, r, c, CAST({arms} AS BIGINT) AS ssd
  FROM px WHERE r + {TH} <= h AND c + {TW} <= w
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY image_id ORDER BY ssd, r, c) AS rn
  FROM offs
),
agg AS (
  SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_off,
         CAST(SUM(ssd) AS BIGINT) AS sum_ssd
  FROM offs GROUP BY 1
)
SELECT a.image_id, a.n_off, CAST(rk.ssd AS BIGINT) AS min_ssd,
  CAST(rk.r AS BIGINT) AS best_r, CAST(rk.c AS BIGINT) AS best_c, a.sum_ssd
FROM agg a JOIN ranked rk ON rk.image_id = a.image_id AND rk.rn = 1
"""
