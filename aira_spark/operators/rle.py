"""RLE compressibility census per (image, band) — how run-length-coded
is each band's structure: the cheap "is this tile flat sky / dense
texture" curation signal, and the cost model for the reference's own
PackBits path (crates/aira-tiff/src/compression.rs PackBits encode is
chunked at 255 like `n_chunks` here; this census predicts its output
size without encoding).

Runs are counted on the 2-bit QUANTIZED stream q = v DIV 64 in row-major
order (the raw synthetic formula steps by 13 mod 256 every column, so
raw-value runs are degenerate by construction; quantization is also what
a real compressibility probe does — structure, not noise). Per band:

    n_px     pixels
    n_runs   maximal equal-q runs
    max_run  longest run
    n_chunks sum over runs of ceil(len / 255)   (255-capped RLE packets)
    rle_ppm  floor(1e6 * 2 * n_chunks / n_px)   (2-byte packets vs raw)

All exact BIGINTs; rle_ppm is one integer floor division shared by both
engines.

Scale shape (100 TB): ONE Arrow decode pass (the moments device) emits a
4-integer row per (image, band) — pixels never become rows and never
cross an exchange; the run counting is numpy inside the decode UDF
(np.flatnonzero on the quantized diff), O(n_px) per image with no
Python-level loop over pixels. The only shuffle carries the bounded
census rows to a (image_id, band) fold."""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PPM = "CAST((2000000 * n_chunks) DIV n_px AS BIGINT)"


def rle_census(images: DataFrame) -> DataFrame:
    """(image_id, band, n_px, n_runs, max_run, n_chunks, rle_ppm) from
    images carrying (image_id, bytes)."""
    import numpy as np
    import pandas as pd

    from ..functions.udfs import decoded_images

    cols = ["image_id", "band", "n_px", "n_runs", "max_run", "n_chunks"]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for rec, _, px in decoded_images(pdf):
                for s in range(px.shape[2]):
                    q = (px[:, :, s].astype(np.int64) >> 6).ravel()
                    n = q.size
                    if n == 0:
                        continue
                    # run starts: position 0 + every quantized change
                    starts = np.flatnonzero(np.diff(q)) + 1
                    bounds = np.concatenate(([0], starts, [n]))
                    lens = np.diff(bounds)
                    out.append((
                        rec.image_id, s, int(n), int(lens.size),
                        int(lens.max()),
                        int(((lens + 254) // 255).sum()),
                    ))
            yield pd.DataFrame(out, columns=cols)

    raw = images.select("image_id", "bytes").mapInPandas(
        fn,
        schema=(
            "image_id string, band long, n_px long, n_runs long,"
            " max_run long, n_chunks long"
        ),
    )
    agg = raw.groupBy("image_id", "band").agg(
        F.sum("n_px").cast("long").alias("n_px"),
        F.sum("n_runs").cast("long").alias("n_runs"),
        F.max("max_run").cast("long").alias("max_run"),
        F.sum("n_chunks").cast("long").alias("n_chunks"),
    )
    return agg.selectExpr(
        "image_id", "CAST(band AS BIGINT) AS band",
        "n_px", "n_runs", "max_run", "n_chunks",
        f"{_PPM} AS rle_ppm",
    )


def oracle_rle_sql(bands_cte: str) -> str:
    """DuckDB mirror over the bands CTE (image_id, k, r, c, s): the pixel
    formula quantized to q = v // 64, runs by gaps-and-islands over the
    (r, c) row-major order, identical chunking and ppm division."""
    return f"""
WITH {bands_cte},
vals AS (
  SELECT image_id, CAST(s AS BIGINT) AS band, r, c,
         ((r * 7 + c * 13 + s * 29 + k) % 256) // 64 AS q
  FROM bands
),
isl AS (
  SELECT image_id, band, q,
    ROW_NUMBER() OVER (PARTITION BY image_id, band ORDER BY r, c)
    - ROW_NUMBER() OVER (PARTITION BY image_id, band, q ORDER BY r, c)
      AS grp
  FROM vals
),
runs AS (
  SELECT image_id, band, CAST(COUNT(*) AS BIGINT) AS len
  FROM isl GROUP BY image_id, band, q, grp
),
census AS (
  SELECT image_id, band,
    CAST(SUM(len) AS BIGINT) AS n_px,
    CAST(COUNT(*) AS BIGINT) AS n_runs,
    CAST(MAX(len) AS BIGINT) AS max_run,
    CAST(SUM((len + 254) // 255) AS BIGINT) AS n_chunks
  FROM runs GROUP BY 1, 2
)
SELECT image_id, band, n_px, n_runs, max_run, n_chunks,
  CAST((2000000 * n_chunks) // n_px AS BIGINT) AS rle_ppm
FROM census
"""
