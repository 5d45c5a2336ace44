"""Walsh–Hadamard block transform features — the frequency-domain image
descriptor (DCT's exact-integer sibling: same block-energy compaction, but
every coefficient is a signed SUM of pixel values, so Spark and the oracle
agree to the bit with no cosine in sight).

For each full 8x8 block of band 0, the natural-order WHT coefficient

    C(u, v) = sum_{r,c} val(r, c) * s(u, r % 8) * s(v, c % 8),
    s(i, j)  = (-1) ^ popcount(i & j)

and only the low-sequency corner u, v < max_uv is emitted (the pHash-style
descriptor band; C(0,0) is the block sum). Partial edge blocks are clipped,
matching every blocked codec.

Scale shape: the whole transform is ONE vectorized einsum per image inside
the decode mapInPandas — ZERO exchanges, nothing shuffles at all; output is
(image_id, bx, by, u, v, coef) integer rows, <= max_uv^2 per block, and any
downstream aggregation (energy census, block matching) starts from these
bounded rows, never pixels. Parity target: block-transform stages next to
aira's tile decode (crates/aira-tiff/src/decoder.rs surface; the reference
ships no transform op — this extends the domain)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

BLOCK = 8

# natural-order 8x8 Hadamard: H[i, j] = (-1)^popcount(i & j)
_IJ = np.arange(BLOCK)
_POP = np.array([bin(i & j).count("1") for i in _IJ for j in _IJ]).reshape(
    BLOCK, BLOCK
)
H8 = (1 - 2 * (_POP % 2)).astype(np.int64)


def wht_block_features(images: DataFrame, max_uv: int = 4) -> DataFrame:
    """(image_id, bx, by, u, v, coef) for every full 8x8 block of band 0."""
    from collections.abc import Iterator

    import pandas as pd

    from ..functions.udfs import decoded_images

    cols = ["image_id", "bx", "by", "u", "v", "coef"]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for rec, _, px in decoded_images(pdf, max_bands=1):
                a = px[:, :, 0].astype(np.int64)
                nby, nbx = a.shape[0] // BLOCK, a.shape[1] // BLOCK
                if not nby or not nbx:
                    continue
                blocks = (
                    a[: nby * BLOCK, : nbx * BLOCK]
                    .reshape(nby, BLOCK, nbx, BLOCK)
                    .transpose(0, 2, 1, 3)
                )  # (by, bx, r, c)
                # C[u,v] = sum_rc H[u,r] * B[r,c] * H[v,c], exact int64
                coef = np.einsum(
                    "ur,yxrc,vc->yxuv", H8, blocks, H8, optimize=True
                )[:, :, :max_uv, :max_uv]
                for by in range(nby):
                    for bx in range(nbx):
                        for u in range(max_uv):
                            for v in range(max_uv):
                                out.append(
                                    (rec.image_id, bx, by, u, v,
                                     int(coef[by, bx, u, v]))
                                )
            yield pd.DataFrame(out, columns=cols)

    return images.select("image_id", "bytes").mapInPandas(
        fn,
        schema="image_id string, bx long, by long, u long, v long, coef long",
    )


def oracle_wht_sql(px_cte: str, max_uv: int = 4) -> str:
    """DuckDB mirror over a CTE chain ending in px(image_id, k, w, h, r, c)
    — one row per band-0 pixel; the sign is the popcount parity of the
    (sequency & position) bit overlap, exactly the H8 definition."""
    return f"""
WITH {px_cte},
full_blocks AS (
  SELECT image_id, c // {BLOCK} AS bx, r // {BLOCK} AS by,
         r % {BLOCK} AS br, c % {BLOCK} AS bc,
         (r * 7 + c * 13 + k) % 256 AS val
  FROM px
  WHERE r < (h // {BLOCK}) * {BLOCK} AND c < (w // {BLOCK}) * {BLOCK}
),
arms AS (
  SELECT f.*, u.u, v.v,
    (1 - 2 * ((bit_count(CAST(u.u AS BIGINT) & CAST(br AS BIGINT))
             + bit_count(CAST(v.v AS BIGINT) & CAST(bc AS BIGINT))) % 2)) AS sgn
  FROM full_blocks f,
       unnest(generate_series(0, {max_uv - 1})) AS u(u),
       unnest(generate_series(0, {max_uv - 1})) AS v(v)
)
SELECT image_id, CAST(bx AS BIGINT) AS bx, CAST(by AS BIGINT) AS by,
       CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
       CAST(SUM(val * sgn) AS BIGINT) AS coef
FROM arms GROUP BY 1, 2, 3, 4, 5
"""
