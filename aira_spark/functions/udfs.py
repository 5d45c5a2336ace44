"""Vectorized pandas/Arrow UDFs: the only Python that touches image bytes.

Everything here is Arrow-batched (pandas_udf / mapInPandas) per the
input_hint mandate ("no per-row Python"); per-image numpy work inside a batch
is the designed decode path (SURVEY.md §3.4). All downstream query logic
stays in JVM column expressions.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as Ty
from pyspark.sql.pandas.functions import pandas_udf

from ..tiff import tags as T
from ..tiff.meta import TiffError, decode_metadata, pixel_chunks
from ..tiff.pixels import decode_chunk, psnr, sample_dtype
from .cells import DEFAULT_RES, np_cell_from_xy

META_SCHEMA = Ty.StructType(
    [
        Ty.StructField("error", Ty.StringType()),
        Ty.StructField("byteorder", Ty.StringType()),
        Ty.StructField("width", Ty.LongType()),
        Ty.StructField("height", Ty.LongType()),
        Ty.StructField("interpretation", Ty.IntegerType()),
        Ty.StructField("layout_kind", Ty.StringType()),
        Ty.StructField("chunk_w", Ty.LongType()),
        Ty.StructField("chunk_h", Ty.LongType()),
        Ty.StructField("n_chunks", Ty.IntegerType()),
        Ty.StructField("expected_chunks", Ty.IntegerType()),
        Ty.StructField("compression", Ty.IntegerType()),
        Ty.StructField("predictor", Ty.IntegerType()),
        Ty.StructField("planar", Ty.IntegerType()),
        Ty.StructField("spp", Ty.IntegerType()),
        Ty.StructField("bits", Ty.ArrayType(Ty.IntegerType())),
        Ty.StructField("formats", Ty.ArrayType(Ty.IntegerType())),
        Ty.StructField("offsets", Ty.ArrayType(Ty.LongType())),
        Ty.StructField("byte_counts", Ty.ArrayType(Ty.LongType())),
        Ty.StructField("description", Ty.StringType()),
        # reference Metadata string/ancillary fields (metadata.rs:19-59):
        # resolution keeps the EXACT num/den pair — predividing to a double
        # collapses distinct rationals (see tiff/meta.py ratio_cmp); sort via
        # functions/ratiofns.ratio_sort_key
        Ty.StructField("subfile_type", Ty.LongType()),
        Ty.StructField(
            "resolution",
            Ty.StructType(
                [
                    Ty.StructField("x_num", Ty.LongType()),
                    Ty.StructField("x_den", Ty.LongType()),
                    Ty.StructField("y_num", Ty.LongType()),
                    Ty.StructField("y_den", Ty.LongType()),
                    Ty.StructField("unit", Ty.IntegerType()),
                ]
            ),
        ),
        Ty.StructField("artist", Ty.StringType()),
        Ty.StructField("software", Ty.StringType()),
        Ty.StructField("copyright", Ty.StringType()),
        Ty.StructField("host_computer", Ty.StringType()),
        Ty.StructField("datetime", Ty.StringType()),
        Ty.StructField("scale_x", Ty.DoubleType()),
        Ty.StructField("scale_y", Ty.DoubleType()),
        Ty.StructField("tie_i", Ty.DoubleType()),
        Ty.StructField("tie_j", Ty.DoubleType()),
        Ty.StructField("tie_x", Ty.DoubleType()),
        Ty.StructField("tie_y", Ty.DoubleType()),
        # S11 (metadata.rs:147-154): unknown tags kept raw+typed; point lookup
        # from DataFrame land is element_at(meta.custom, tag)
        Ty.StructField(
            "custom",
            Ty.MapType(
                Ty.IntegerType(),
                Ty.StructType(
                    [
                        Ty.StructField("dtype", Ty.IntegerType()),
                        Ty.StructField("count", Ty.LongType()),
                        Ty.StructField("raw", Ty.BinaryType()),
                    ]
                ),
            ),
        ),
    ]
)

_META_NULL = {f.name: None for f in META_SCHEMA.fields}


def _meta_row(buf: bytes) -> dict:
    try:
        m = decode_metadata(bytes(buf))
    except TiffError as exc:
        # dead-letter row, never an exception (SURVEY.md S8/K3)
        return dict(_META_NULL, error=str(exc))
    return _meta_dict_to_row(m)


def _meta_dict_to_row(m: dict) -> dict:
    row = {
        "error": None,
        "byteorder": m["byteorder"],
        "width": m["width"],
        "height": m["height"],
        "interpretation": m["interpretation"],
        "layout_kind": m["layout_kind"],
        "chunk_w": m["chunk_w"],
        "chunk_h": m["chunk_h"],
        "n_chunks": len(m["offsets"]),
        "expected_chunks": m["expected_chunks"],
        "compression": m["compression"],
        "predictor": m["predictor"],
        "planar": m["planar"],
        "spp": m["spp"],
        "bits": m["bits"],
        "formats": m["formats"],
        "offsets": m["offsets"],
        "byte_counts": m["byte_counts"],
        "description": m["description"],
        "subfile_type": m["subfile_type"],
        "resolution": (
            None
            if m["resolution"] is None
            else {
                "x_num": m["resolution"]["x_num"],
                "x_den": m["resolution"]["x_den"],
                "y_num": m["resolution"]["y_num"],
                "y_den": m["resolution"]["y_den"],
                "unit": m["resolution"]["unit"],
            }
        ),
        "artist": m["artist"],
        "software": m["software"],
        "copyright": m["copyright"],
        "host_computer": m["host_computer"],
        "datetime": m["datetime"],
        "scale_x": None,
        "scale_y": None,
        "tie_i": None,
        "tie_j": None,
        "tie_x": None,
        "tie_y": None,
        "custom": m["custom"],
    }
    if m["geo"] is not None:
        sv, tv = m["geo"]
        row.update(scale_x=sv[0], scale_y=sv[1], tie_i=tv[0], tie_j=tv[1],
                   tie_x=tv[3], tie_y=tv[4])
    return row


@pandas_udf(META_SCHEMA)
def decode_meta(bufs: pd.Series) -> pd.DataFrame:
    """binary -> metadata struct; invalid rows get error set, all else null."""
    return pd.DataFrame([_meta_row(b) for b in bufs])


# nondeterministic marker = "do not duplicate": without it Catalyst's project
# collapse re-evaluates the decode once per downstream reference (observed 2x
# in the tile_assign plan). Decode is pure, but expensive — single evaluation
# is the correct physical choice at any scale.
decode_meta = decode_meta.asNondeterministic()


@pandas_udf(Ty.ArrayType(META_SCHEMA))
def decode_meta_pages(bufs: pd.Series) -> pd.Series:
    """binary -> one metadata struct PER DIRECTORY of the IFD chain (the
    multi-page path, SURVEY.md S2: posexplode of pages per file row)."""
    from ..tiff.meta import decode_all_pages

    out = []
    for b in bufs:
        try:
            out.append([_meta_dict_to_row(m) for m in decode_all_pages(bytes(b))])
        except TiffError as exc:
            out.append([dict(_META_NULL, error=str(exc))])
    return pd.Series(out)


decode_meta_pages = decode_meta_pages.asNondeterministic()


def _decode_full(buf: bytes, max_bands: int | None = None) -> tuple[dict, np.ndarray]:
    """Decode the metadata, then the pixels (see decode_pixels)."""
    m = decode_metadata(bytes(buf))
    return m, decode_pixels(buf, m, max_bands)


def decoded_images(pdf: pd.DataFrame, max_bands: int | None = None):
    """Yield (rec, m, px) for every row of a mapInPandas batch whose `bytes`
    decode: metadata once, then the pixels (see decode_pixels). A row that
    raises TiffError drops out — the dead-letter contract (SURVEY.md S8/K3)
    every raster UDF shares; a bad image never fails the task."""
    for rec in pdf.itertuples(index=False):
        try:
            buf = bytes(rec.bytes)
            m = decode_metadata(buf)
            px = decode_pixels(buf, m, max_bands)
        except TiffError:
            continue
        yield rec, m, px


def decode_pixels(buf: bytes, m: dict, max_bands: int | None = None) -> np.ndarray:
    """Decode and stitch the (h, w, n_bands) image described by `m`.

    max_bands prunes the decode itself: planar files skip every chunk of a
    plane >= max_bands (band pruning pushed below the decode — a band-0
    consumer of a 3-plane file decompresses 1/3 of the bytes); chunky files
    are interleaved, so all chunks decode and the result is sliced.
    """
    h, w, spp = m["height"], m["width"], m["spp"]
    n_bands = spp if max_bands is None else min(spp, max_bands)
    planar = m["planar"] == T.PLANAR_PLANAR
    out = np.zeros((h, w, n_bands), dtype=sample_dtype(m["formats"][0], m["bits"][0]))
    for c in pixel_chunks(m):
        if c["size_x"] == 0 or c["size_y"] == 0:
            continue
        if planar and c["plane"] >= n_bands:
            continue  # pruned plane: its chunks are never decompressed
        px = decode_chunk(
            buf[c["offset"] : c["offset"] + c["nbytes"]], m, c["chunk_idx"],
            c["size_x"], c["size_y"],
        )
        oy, ox = c["origin_y"], c["origin_x"]
        if planar:
            out[oy : oy + c["size_y"], ox : ox + c["size_x"], c["plane"] : c["plane"] + 1] = px
        else:
            out[oy : oy + c["size_y"], ox : ox + c["size_x"], :] = px[:, :, :n_bands]
    return out


def _phash64(px: np.ndarray) -> int:
    # single definition: the verifier MUST use the generator's exact-integer
    # fingerprint (sources/images.py phash64) or tie-bit drift breaks
    # phash_match on ~3% of images
    from ..sources.images import phash64

    return phash64(px)


VERIFY_SCHEMA = Ty.StructType(
    [
        Ty.StructField("image_id", Ty.StringType()),
        Ty.StructField("caption_match", Ty.BooleanType()),
        Ty.StructField("phash_match", Ty.BooleanType()),
        Ty.StructField("pixels_psnr_ok", Ty.BooleanType()),
        Ty.StructField("error", Ty.StringType()),
    ]
)


def verify_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-row invariants (BASELINE.json:15): decoded pixels vs the generation
    formula (allclose / PSNR>=40dB), caption byte-equality, phash equality."""
    from ..sources.images import derive_params, make_pixels

    for pdf in batches:
        rows = []
        for rec in pdf.itertuples(index=False):
            try:
                m, px = _decode_full(rec.bytes)
                k = int(rec.image_id.removeprefix("img"))
                expected = make_pixels(derive_params(k))
                if px.dtype.kind == "f":
                    ok = bool(np.allclose(px, expected)) or psnr(px, expected, 255.0) >= 40.0
                else:
                    ok = bool(np.array_equal(px, expected))
                rows.append(
                    (
                        rec.image_id,
                        m["description"] == rec.caption,
                        _phash64(px) == int(rec.phash),
                        ok,
                        None,
                    )
                )
            except TiffError as exc:
                rows.append((rec.image_id, None, None, None, str(exc)))
        yield pd.DataFrame(rows, columns=VERIFY_SCHEMA.fieldNames())


ZONAL_PIX_SCHEMA = Ty.StructType(
    [
        Ty.StructField("image_id", Ty.StringType()),
        Ty.StructField("cell", Ty.LongType()),
        Ty.StructField("px_cnt", Ty.LongType()),
        Ty.StructField("px_sum", Ty.LongType()),
        Ty.StructField("px_min", Ty.LongType()),
        Ty.StructField("px_max", Ty.LongType()),
    ]
)


def _zonal_partials(m: dict, px: np.ndarray, res: int) -> list[tuple]:
    """Per-(cell) band-0 partials [(cell, cnt, sum, min, max), ...] — the
    single-band special case of _zonal_partials_bands."""
    return [
        (cell, cnt, sm, mn, mx)
        for cell, _band, cnt, sm, mn, mx in _zonal_partials_bands(
            m, px[:, :, :1], res
        )
    ]


def pixel_world_coords(m: dict, h: int, w: int):
    """(xs, ys) pixel-CENTER world coordinates from the GeoTIFF transform,
    or (None, None, None, None) when the image has no geotransform; also
    returns (sv, tv) so callers can derive footprint extents. ONE home for
    the half-pixel-center + tiepoint convention — the cell-zonal path and
    the exact-polygon path must agree on pixel world coordinates, so any
    future correction lands in both by construction."""
    if m["geo"] is None:
        return None, None, None, None
    sv, tv = m["geo"]
    xs = tv[3] + (np.arange(w, dtype=np.float64) + 0.5 - tv[0]) * sv[0]
    ys = tv[4] - (np.arange(h, dtype=np.float64) + 0.5 - tv[1]) * sv[1]
    return xs, ys, sv, tv


def pixel_cell_groups(m: dict, px: np.ndarray, res: int):
    """Shared georeference + cell-grouping scaffolding: pixel-center world
    coords from the GeoTIFF transform, cell ids, and the stable-sort /
    unique / reduceat bounds every per-cell aggregator reuses.

    Returns (order, uniq_cells, starts, ends) or None when the image has no
    geotransform. `arr.ravel()[order]` aligns any per-pixel value array with
    the group bounds."""
    h, w = px.shape[:2]
    xs, ys, _sv, _tv = pixel_world_coords(m, h, w)
    if xs is None:
        return None
    cell = np_cell_from_xy(
        np.broadcast_to(xs[None, :], (h, w)),
        np.broadcast_to(ys[:, None], (h, w)),
        res,
    ).ravel()
    order = np.argsort(cell, kind="stable")
    cs = cell[order]
    uniq, starts = np.unique(cs, return_index=True)
    ends = np.append(starts[1:], len(cs))
    return order, uniq, starts, ends


def reduce_by_cell(vals: np.ndarray, groups) -> list[tuple]:
    """[(cell, cnt, sum, min, max), ...] of an order-aligned value array."""
    order, uniq, starts, ends = groups
    vs = vals[order]
    sums = np.add.reduceat(vs, starts)
    mins = np.minimum.reduceat(vs, starts)
    maxs = np.maximum.reduceat(vs, starts)
    return [
        (int(u), int(e0 - s0), int(sm), int(mn), int(mx))
        for u, s0, e0, sm, mn, mx in zip(uniq, starts, ends, sums, mins, maxs)
    ]


def _zonal_partials_bands(m: dict, px: np.ndarray, res: int) -> list[tuple]:
    """Per-(cell, band) pixel partials [(cell, band, cnt, sum, min, max), ...]
    across ALL sample channels (multi-band raster semantics: each band is an
    independent measurement over the same grid, aggregated per band). The
    cell sort is computed once and reused for every band."""
    groups = pixel_cell_groups(m, px, res)
    if groups is None:
        return []
    out: list[tuple] = []
    for band in range(px.shape[2]):
        vals = px[:, :, band].astype(np.int64).ravel()
        out.extend(
            (cell, band, cnt, sm, mn, mx)
            for cell, cnt, sm, mn, mx in reduce_by_cell(vals, groups)
        )
    return out


def zonal_pixel_batches(res: int = DEFAULT_RES):
    """mapInPandas fn: decode pixels, map each pixel center to its cell via the
    GeoTIFF transform, partial-aggregate per (image, cell) in numpy.

    This is the raster->vector zonal-stats map side; the reduce side is a
    plain Catalyst groupBy(cell) hash aggregation.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for rec, m, px in decoded_images(pdf, max_bands=1):
                out.extend(
                    (rec.image_id, *p) for p in _zonal_partials(m, px, res)
                )
            yield pd.DataFrame(out, columns=ZONAL_PIX_SCHEMA.fieldNames())

    return fn


FULL_DECODE_SCHEMA = Ty.StructType(
    [
        Ty.StructField("image_id", Ty.StringType()),
        Ty.StructField("meta", META_SCHEMA),
        Ty.StructField(
            "zonal",
            Ty.ArrayType(
                Ty.StructType(
                    [
                        Ty.StructField("cell", Ty.LongType()),
                        Ty.StructField("px_cnt", Ty.LongType()),
                        Ty.StructField("px_sum", Ty.LongType()),
                        Ty.StructField("px_min", Ty.LongType()),
                        Ty.StructField("px_max", Ty.LongType()),
                    ]
                )
            ),
        ),
    ]
)


def full_decode_batches(res: int = DEFAULT_RES):
    """mapInPandas fn: ONE pass over the image bytes producing both the
    metadata struct and the per-cell pixel partials.

    At scale this halves the dominant cost of the combined pipeline — the
    bytes column crosses the JVM->Python Arrow boundary once instead of once
    per decode stage; everything downstream (chunk explode, cell cover, joins,
    zonal reduce) runs on the compact output."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for rec in pdf.itertuples(index=False):
                buf = bytes(rec.bytes)
                try:
                    m = decode_metadata(buf)
                except TiffError as exc:
                    out.append((rec.image_id, dict(_META_NULL, error=str(exc)), []))
                    continue
                meta_row = _meta_dict_to_row(m)
                try:
                    px = decode_pixels(buf, m, max_bands=1)
                    zon = _zonal_partials(m, px, res)
                except TiffError as exc:
                    meta_row = dict(meta_row, error=str(exc))
                    zon = []
                out.append((rec.image_id, meta_row, zon))
            yield pd.DataFrame(out, columns=FULL_DECODE_SCHEMA.fieldNames())

    return fn
