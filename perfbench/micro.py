"""In-process decode micro-pass: the per-image split of the decode UDF.

Runs without Spark on a seeded sample of the workload's own image bytes and
times each decode layer the Arrow UDF is built from, so a traced run shows
where `full_decode_batches` spends its time per image:

  tiff.meta     decode_metadata
  tiff.pixels   pixel_chunks + decode_chunk, stitched to the band-0 plane
  cells         np_cell_from_xy over every pixel centre
  udfs.zonal    pixel_cell_groups + reduce_by_cell
  udfs.full     full_decode_batches on the same rows
  udfs overhead full minus (meta + pixels + zonal): what the UDF does beyond
                its parts, e.g. a second metadata decode.
"""

from __future__ import annotations

import glob
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from aira_spark.functions.cells import DEFAULT_RES as RES
from aira_spark.functions.cells import np_cell_from_xy
from aira_spark.functions.udfs import (
    full_decode_batches,
    pixel_cell_groups,
    pixel_world_coords,
    reduce_by_cell,
)
from aira_spark.tiff import tags as T
from aira_spark.tiff.meta import decode_metadata, pixel_chunks
from aira_spark.tiff.pixels import decode_chunk

SAMPLE = 240
REPS = 3


def load_images(images_dir: str) -> pd.DataFrame:
    files = sorted(glob.glob(f"{images_dir}/**/*.parquet", recursive=True))
    return pd.concat(
        [pq.read_table(f, columns=["image_id", "bytes"]).to_pandas() for f in files],
        ignore_index=True,
    ).sort_values("image_id", ignore_index=True)


def _band0(buf: bytes, m: dict) -> tuple[np.ndarray, int]:
    h, w = m["height"], m["width"]
    kind = {T.SAMPLE_UNSIGNED: "u", T.SAMPLE_SIGNED: "i", T.SAMPLE_FLOAT: "f"}[m["formats"][0]]
    out = np.zeros((h, w, 1), dtype=np.dtype(f"{kind}{m['bits'][0] // 8}"))
    planar = m["planar"] == T.PLANAR_PLANAR
    decoded = 0
    for c in pixel_chunks(m):
        if c["size_x"] == 0 or c["size_y"] == 0 or (planar and c["plane"] > 0):
            continue
        px = decode_chunk(buf[c["offset"] : c["offset"] + c["nbytes"]], m, c["chunk_idx"], c["size_x"], c["size_y"])
        decoded += px.nbytes
        oy, ox = c["origin_y"], c["origin_x"]
        out[oy : oy + c["size_y"], ox : ox + c["size_x"], :] = px[:, :, :1]
    return out, decoded


def _one_rep(bufs: list[bytes], pdf: pd.DataFrame) -> dict:
    t = time.perf_counter()
    metas = [decode_metadata(b) for b in bufs]
    t_meta = time.perf_counter() - t

    t = time.perf_counter()
    planes = [_band0(b, m) for b, m in zip(bufs, metas)]
    t_px = time.perf_counter() - t
    decoded = sum(d for _, d in planes)

    t = time.perf_counter()
    n_cells = 0
    for m, (px, _) in zip(metas, planes):
        h, w = px.shape[:2]
        xs, ys, _sv, _tv = pixel_world_coords(m, h, w)
        n_cells += np_cell_from_xy(
            np.broadcast_to(xs[None, :], (h, w)), np.broadcast_to(ys[:, None], (h, w)), RES
        ).size
    t_cells = time.perf_counter() - t

    t = time.perf_counter()
    for m, (px, _) in zip(metas, planes):
        groups = pixel_cell_groups(m, px, RES)
        reduce_by_cell(px[:, :, 0].astype(np.int64).ravel(), groups)
    t_zonal = time.perf_counter() - t

    t = time.perf_counter()
    for _ in full_decode_batches(RES)(iter([pdf])):
        pass
    t_full = time.perf_counter() - t
    return {
        "meta": t_meta, "px": t_px, "cells": t_cells, "zonal": t_zonal, "full": t_full,
        "decoded": decoded, "n_cells": n_cells,
    }


def decode_layers(images_dir: str, seed: int) -> dict:
    """Per-layer decode metrics on SAMPLE seeded images, median of REPS."""
    table = load_images(images_dir)
    rng = np.random.default_rng([seed, 2])
    idx = np.sort(rng.choice(len(table), size=min(SAMPLE, len(table)), replace=False))
    pdf = table.iloc[idx].reset_index(drop=True)
    bufs = [bytes(b) for b in pdf["bytes"]]
    n = len(bufs)
    reps = [_one_rep(bufs, pdf) for _ in range(REPS)]

    def med(key):
        return statistics.median(r[key] for r in reps)

    us = 1e6 / n
    return {
        "tiff.meta_us_per_image": med("meta") * us,
        "tiff.pixel_decode_us_per_image": med("px") * us,
        "tiff.decoded_mb_per_s": reps[0]["decoded"] / med("px") / 1e6,
        "cells.np_cells_per_s": reps[0]["n_cells"] / med("cells"),
        "udfs.full_decode_us_per_image": med("full") * us,
        "udfs.zonal_us_per_image": med("zonal") * us,
        "udfs.overhead_us_per_image": statistics.median(
            r["full"] - r["meta"] - r["px"] - r["zonal"] for r in reps
        ) * us,
        "udfs.arrow_in_mb": float(table["bytes"].map(len).sum()) / 1e6,
    }
