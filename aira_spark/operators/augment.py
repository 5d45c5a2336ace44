"""Image augmentation: deterministic geometric transforms with a real
encode -> decode round trip.

Training-data pipelines multiply image corpora with cheap geometric
augmentations (flips, quarter rotations). Each op here is integer-exact
(pure index permutation — no resampling), so the augmented corpus is
bit-reproducible and oracle-checkable: the DuckDB mirror computes each
output's position-weighted checksum directly from the synthetic pixel
formula with the op's index mapping (a wrong transform, a wrong output
shape, or a lossy encode all break the checksum).

Like resize_images, the operator produces REAL augmented TIFF bytes
(transform -> write_tiff -> re-decode before measuring), so the round trip
through the encoder is part of what the oracle verifies — the emitted bytes
are exactly what a downstream trainer would consume.

Plan shape: one mapInPandas over the image bytes, zero shuffles; stats
cross Arrow, pixel buffers never do (unless bytes are requested).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions.udfs import _decode_full, decoded_images
from ..tiff.encode import write_tiff

# op -> band-0 transform (numpy view semantics; all pure index permutations)
AUG_OPS = {
    "identity": lambda a: a,
    "fliph": lambda a: a[:, ::-1],
    "flipv": lambda a: a[::-1, :],
    "rot90": lambda a: np.rot90(a, 1),
    "rot180": lambda a: np.rot90(a, 2),
    "rot270": lambda a: np.rot90(a, 3),
}

WSUM_MOD = 1 << 61  # position-weighted checksum stays far inside int64


def augment_stats(
    images: DataFrame, ops: tuple[str, ...] = tuple(AUG_OPS)
) -> DataFrame:
    """(image_id, op, out_w, out_h, sum_px, wsum): per augmented image, the
    output dims, band-0 pixel sum (transform-invariant sanity arm) and the
    position-weighted checksum sum((i * out_w + j + 1) * val[i, j]) % 2^61
    over the RE-DECODED augmented TIFF (position-sensitive: catches a wrong
    index mapping, a wrong shape, or a corrupt encode)."""
    for op in ops:
        if op not in AUG_OPS:
            raise ValueError(f"unknown augmentation op: {op}")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec, _, px in decoded_images(pdf, max_bands=1):
                band0 = px[:, :, 0]
                for op in ops:
                    out = np.ascontiguousarray(AUG_OPS[op](band0))
                    buf = write_tiff(out[:, :, None], byteorder="<",
                                     layout=("strips", 8))
                    _, rx = _decode_full(buf, max_bands=1)
                    a = rx[:, :, 0].astype(np.int64)
                    h, w = a.shape
                    weights = np.arange(1, h * w + 1, dtype=np.int64)
                    wsum = int((weights * a.ravel()).sum() % WSUM_MOD)
                    rows.append(
                        (rec.image_id, op, w, h, int(a.sum()), wsum)
                    )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "op", "out_w", "out_h", "sum_px", "wsum"],
            )

    return images.select("image_id", "bytes").mapInPandas(
        fn,
        schema="image_id string, op string, out_w long, out_h long, "
               "sum_px long, wsum long",
    )


# DuckDB index mappings: the flattened OUTPUT position (0-based) of the
# input pixel (r, c) for an h x w band — mirrors AUG_OPS exactly.
AUG_ORACLE_POS = {
    "identity": "(r * w + c)",
    "fliph": "(r * w + (w - 1 - c))",
    "flipv": "((h - 1 - r) * w + c)",
    # np.rot90 k=1: out[i, j] = in[j, w-1-i], out shape (w, h)
    "rot90": "((w - 1 - c) * h + r)",
    "rot180": "((h - 1 - r) * w + (w - 1 - c))",
    # np.rot90 k=3: out[i, j] = in[h-1-j, i], out shape (w, h)
    "rot270": "(c * h + (h - 1 - r))",
}
AUG_ORACLE_DIMS = {
    "identity": ("w", "h"),
    "fliph": ("w", "h"),
    "flipv": ("w", "h"),
    "rot90": ("h", "w"),
    "rot180": ("w", "h"),
    "rot270": ("h", "w"),
}
