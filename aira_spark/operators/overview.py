"""COG-style overview pyramids: build reduced-resolution pages, pick the page
whose ground sample distance (GSD) best matches a query's target resolution.

The reference walks multi-page directory chains and flags reduced-resolution
pages via SubfileType::REDUCED_IMAGE
(/root/reference/crates/aira-tiff/src/subfile_type.rs:7-14; decoder chain
walk decoder.rs:117-174). Cloud-Optimized GeoTIFF readers use exactly this
structure to serve zoomed-out queries from overview pages instead of the full
raster. Here: the pyramid is materialized as a real multi-page TIFF per image
(page p = 2x-strided pixels of page p-1, GSD doubled in the GeoTIFF tags),
then page selection is a Window rank over the decoded per-page metadata —
pure JVM expressions after the decode UDF.

At scale the pyramid build is a one-time ingest cost (pages add ~1/3 overhead
by the geometric series) and every window/zonal query at coarse zoom then
decodes 4^p fewer pixels — the same economics as COG overviews on object
storage.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .chunks import with_meta_pages


def _pyramid_batches(levels: int):
    from ..functions.udfs import decoded_images
    from ..tiff.encode import concat_tiff_pages, write_tiff
    from ..tiff.meta import read_header

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for rec, m, px in decoded_images(pdf):
                buf = bytes(rec.bytes)
                geo_base = None
                if m["geo"] is not None:
                    sv, tv = m["geo"]
                    # re-anchor at pixel (0, 0) (source tie may be elsewhere)
                    geo_base = (
                        sv[0], sv[1],
                        tv[3] - tv[0] * sv[0], tv[4] + tv[1] * sv[1],
                    )
                # all pages of a chain must share byteorder + version
                bo, version, _ = read_header(buf)
                bufs = [buf]
                sub = px
                for p in range(1, levels):
                    sub = sub[::2, ::2, :]
                    geo = None
                    if geo_base is not None:
                        sx, sy, tx, ty = geo_base
                        geo = (
                            (sx * (1 << p), sy * (1 << p), 0.0),
                            (0.0, 0.0, 0.0, tx, ty, 0.0),
                        )
                    bufs.append(
                        write_tiff(
                            sub, byteorder=bo, layout=("strips", 8),
                            big=(version == 43), geo=geo,
                            # reduced-resolution marker, the COG convention
                            # (reference crates/aira-tiff/src/subfile_type.rs:7-14)
                            subfile_type=1,
                        )
                    )
                out.append((rec.image_id, concat_tiff_pages(bufs)))
            yield pd.DataFrame(out, columns=["image_id", "bytes"])

    return fn


def with_pyramid(images: DataFrame, levels: int = 3) -> DataFrame:
    """(image_id, bytes) -> (image_id, bytes) where bytes is a multi-page TIFF:
    page 0 = the original file, page p = 2x-strided overview with doubled GSD."""
    return images.select("image_id", "bytes").mapInPandas(
        _pyramid_batches(levels), schema="image_id string, bytes binary"
    )


def select_overview(images: DataFrame, target_gsd: float, levels: int = 3) -> DataFrame:
    """Best page per image for a target GSD: argmin |ln(gsd / target)|, ties
    to the finer page. Returns (image_id, page, width, height, gsd)."""
    pages = with_meta_pages(with_pyramid(images, levels))
    m = F.col("meta")
    w = Window.partitionBy("image_id").orderBy(
        F.abs(F.log(m["scale_x"] / F.lit(target_gsd))), F.col("page")
    )
    return (
        pages.filter(m["error"].isNull() & m["scale_x"].isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "image_id",
            F.col("page").cast("long").alias("page"),
            m["width"].cast("long").alias("width"),
            m["height"].cast("long").alias("height"),
            m["scale_x"].alias("gsd"),
        )
    )
