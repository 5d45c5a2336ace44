"""Mosaic: composite overlapping images into one raster patch per cell.

The classic raster mosaic (multiple scenes covering the same area merged
into a seamless layer) as DataFrames: each cell of the grid gets a
PATCH x PATCH raster (PATCH = 2^patch_bits subcells) where every patch
pixel is the MAX of all source-pixel values whose center falls inside that
subcell — max-compositing is commutative/associative, so the result is
independent of image order and partitioning (deterministic at any scale,
and expressible as a plain hash aggregation for the oracle).

Plan shape: the decode UDF emits per-(cell, pr, pc) partial maxima (already
combined within each image), Catalyst's partial+final hash agg merges
across images — pixels never shuffle, only (cell, subcell, val) rows. Patch
assembly is a grouped-map applyInPandas per cell (the one UDF shape the
input_hint allows beyond scalar/map batches), emitting the packed binary
patch + fill count.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES


def mosaic_cell_values(
    images: DataFrame, res: int = DEFAULT_RES, patch_bits: int = 4
) -> DataFrame:
    """(cell, pr, pc, val): max-composited band-0 value per patch subcell.

    Subcell (pr, pc) indexes the PATCH x PATCH grid inside the cell, row 0 at
    the cell's SOUTH edge (consistent with the grid's y-up indexing).
    """
    from ..functions.udfs import decoded_images, pixel_cell_groups

    fine_res = res + patch_bits

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.cells import np_cell_ix, np_cell_iy

        for pdf in batches:
            cols: dict[str, list[np.ndarray]] = {
                "cell": [], "pr": [], "pc": [], "val": []
            }
            for _, m, px in decoded_images(pdf, max_bands=1):
                groups = pixel_cell_groups(m, px, fine_res)
                if groups is None:
                    continue
                order, uniq, starts, ends = groups
                vals = px[:, :, 0].astype(np.int64).ravel()[order]
                # per-image partial max per fine cell (one row per subcell)
                maxs = np.maximum.reduceat(vals, starts)
                fx = np_cell_ix(uniq)
                fy = np_cell_iy(uniq)
                coarse_ix = fx >> patch_bits
                coarse_iy = fy >> patch_bits
                cols["cell"].append(
                    (np.int64(res) << 58) + (coarse_ix << 29) + coarse_iy
                )
                cols["pr"].append((fy - (coarse_iy << patch_bits)).astype(np.int32))
                cols["pc"].append((fx - (coarse_ix << patch_bits)).astype(np.int32))
                cols["val"].append(maxs)
            # columnar assembly — no per-element Python on the decode path
            yield pd.DataFrame(
                {
                    k: (np.concatenate(v) if v else np.array([], dtype=np.int64))
                    for k, v in cols.items()
                }
            )

    partials = images.select("bytes").mapInPandas(
        fn, schema="cell long, pr int, pc int, val long"
    )
    return partials.groupBy("cell", "pr", "pc").agg(F.max("val").alias("val"))


MOSAIC_SCHEMA = "cell long, patch binary, n_filled long"


def mosaic_patches(
    images: DataFrame, res: int = DEFAULT_RES, patch_bits: int = 4
) -> DataFrame:
    """(cell, patch, n_filled): the composited PATCH x PATCH raster per cell,
    packed row-major uint8 (values clipped to [0, 255]; unfilled subcells =
    0). Assembly is applyInPandas over the per-cell subcell rows."""
    patch = 1 << patch_bits

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros((patch, patch), dtype=np.uint8)
        pr = pdf["pr"].to_numpy()
        pc = pdf["pc"].to_numpy()
        arr[pr, pc] = np.clip(pdf["val"].to_numpy(), 0, 255).astype(np.uint8)
        return pd.DataFrame(
            {
                "cell": [int(pdf["cell"].iloc[0])],
                "patch": [arr.tobytes()],
                "n_filled": [len(pdf)],
            }
        )

    return (
        mosaic_cell_values(images, res, patch_bits)
        .groupBy("cell")
        .applyInPandas(assemble, schema=MOSAIC_SCHEMA)
    )


def mosaic_blend_values(
    images: DataFrame, res: int = DEFAULT_RES, patch_bits: int = 4
) -> DataFrame:
    """(cell, pr, pc, val, w_tot): FEATHERED mosaic — the seam-hiding
    compositor every production mosaic service runs where max/last-wins
    leaves visible edges. Each source pixel contributes with weight
    w = 1 + min(r, c, h-1-r, w-1-c) (its L-inf distance to the nearest
    image edge), and the blended value is the floor weighted mean

        val = SUM(w * v) DIV SUM(w)

    over every contributing pixel of every overlapping image. Sums are
    commutative/associative, so the result is independent of image order
    AND partitioning — the property that makes feathering safe as a plain
    hash aggregation at any scale (no per-seam sequencing). Exact integer
    end-to-end: weights and values are integers, the mean is floor
    division, and w_tot ships so the oracle pins the denominator too.

    Plan shape: identical to mosaic_cell_values — per-image partial
    (wv, w) sums per fine cell inside the decode UDF (reduceat over the
    shared cell grouping), Catalyst partial+final hash agg across images;
    pixels never shuffle, only (cell, pr, pc, wv, w) integer rows.
    Budget: wv <= 255 * (1 + max_dim/2) * px_per_cell — mid-int64 at any
    realistic tile size."""
    from ..functions.udfs import decoded_images, pixel_cell_groups

    fine_res = res + patch_bits

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.cells import np_cell_ix, np_cell_iy

        for pdf in batches:
            cols: dict[str, list[np.ndarray]] = {
                "cell": [], "pr": [], "pc": [], "wv": [], "w": []
            }
            for _, m, px in decoded_images(pdf, max_bands=1):
                groups = pixel_cell_groups(m, px, fine_res)
                if groups is None:
                    continue
                order, uniq, starts, ends = groups
                h, w = px.shape[:2]
                ri = np.arange(h, dtype=np.int64)[:, None]
                ci = np.arange(w, dtype=np.int64)[None, :]
                wt = 1 + np.minimum(
                    np.minimum(ri, h - 1 - ri), np.minimum(ci, w - 1 - ci)
                )
                wts = np.broadcast_to(wt, (h, w)).ravel()[order]
                vals = px[:, :, 0].astype(np.int64).ravel()[order]
                wv = np.add.reduceat(wts * vals, starts)
                ws = np.add.reduceat(wts, starts)
                fx = np_cell_ix(uniq)
                fy = np_cell_iy(uniq)
                coarse_ix = fx >> patch_bits
                coarse_iy = fy >> patch_bits
                cols["cell"].append(
                    (np.int64(res) << 58) + (coarse_ix << 29) + coarse_iy
                )
                cols["pr"].append((fy - (coarse_iy << patch_bits)).astype(np.int32))
                cols["pc"].append((fx - (coarse_ix << patch_bits)).astype(np.int32))
                cols["wv"].append(wv)
                cols["w"].append(ws)
            yield pd.DataFrame(
                {
                    k: (np.concatenate(v) if v else np.array([], dtype=np.int64))
                    for k, v in cols.items()
                }
            )

    partials = images.select("bytes").mapInPandas(
        fn, schema="cell long, pr int, pc int, wv long, w long"
    )
    return (
        partials.groupBy("cell", "pr", "pc")
        .agg(F.sum("wv").alias("wv"), F.sum("w").alias("w_tot"))
        .selectExpr(
            "CAST(cell AS BIGINT) AS cell",
            "CAST(pr AS BIGINT) AS pr",
            "CAST(pc AS BIGINT) AS pc",
            "wv DIV w_tot AS val",
            "CAST(w_tot AS BIGINT) AS w_tot",
        )
    )
