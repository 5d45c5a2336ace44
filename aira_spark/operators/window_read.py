"""Windowed (pruned) raster reads: decode ONLY the chunks a query touches.

The reference exposes chunk-level random access — `Metadata::chunks()` +
`Seek` lets a caller read just the chunks intersecting a requested window
(/root/reference/crates/aira-tiff/src/metadata.rs:138-144,246-255; SURVEY.md
§4 "chunk-level random access / windowed reads"). In Spark that becomes
*plan-level pruning*: the chunk grid is enumerated as pure column arithmetic
(operators/chunks.py), the world-space window predicate is a JVM filter over
the derived chunk rectangles, and only the surviving (image, chunk) rows are
sent to the Arrow decode UDF — so the expensive Python stage touches exactly
the bytes a windowed read would seek to.

At 100 TB scale this is the difference between decoding the full archive and
decoding the window: the filter is pushed below the decode (the decode UDF
sees only selected chunk rows), and with the images table partitioned by cell
range the scan itself partition-prunes on the same predicate.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as Ty

from .chunks import chunks_df, footprint

WINDOW_READ_SCHEMA = Ty.StructType(
    [
        Ty.StructField("image_id", Ty.StringType()),
        Ty.StructField("chunk_idx", Ty.LongType()),
        Ty.StructField("n_px", Ty.LongType()),
        Ty.StructField("sum_px", Ty.LongType()),
    ]
)


def window_chunks(
    with_meta_df: DataFrame, x0: float, y0: float, x1: float, y1: float
) -> DataFrame:
    """One row per (image, chunk) whose world-space rectangle intersects the
    window [x0, x1) x [y0, y1). Pure column arithmetic — no decode.

    Only band-0 chunks are kept (chunk_idx < expected_chunks): for planar
    files the extra per-plane chunk sets cover the same footprint, and the
    window semantics are defined on the image grid, not the sample planes.
    """
    m = F.col("meta")
    ch = chunks_df(footprint(with_meta_df))
    cxmin = F.col("fp_xmin") + F.col("origin_x").cast("double") * m["scale_x"]
    cxmax = F.col("fp_xmin") + (F.col("origin_x") + F.col("size_x")).cast("double") * m["scale_x"]
    cymax = F.col("fp_ymax") - F.col("origin_y").cast("double") * m["scale_y"]
    cymin = F.col("fp_ymax") - (F.col("origin_y") + F.col("size_y")).cast("double") * m["scale_y"]
    return (
        ch.filter(
            (F.col("size_x") > 0)
            & (F.col("size_y") > 0)
            & (F.col("chunk_idx") < m["expected_chunks"])
        )
        .withColumn("cxmin", cxmin)
        .withColumn("cxmax", cxmax)
        .withColumn("cymin", cymin)
        .withColumn("cymax", cymax)
        .filter(
            (F.col("cxmin") < F.lit(x1))
            & (F.col("cxmax") > F.lit(x0))
            & (F.col("cymin") < F.lit(y1))
            & (F.col("cymax") > F.lit(y0))
        )
    )


def _decode_selected_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(image_id, bytes, chunk_idx, size_x, size_y) -> per-chunk band-0 pixel
    count + sum. Metadata is decoded once per image within the batch; each
    selected chunk's payload is sliced and decoded independently (the Spark
    analog of seek-to-chunk)."""
    from ..tiff.meta import TiffError, decode_metadata, pixel_chunks
    from ..tiff.pixels import decode_chunk

    for pdf in batches:
        out: list[tuple] = []
        for image_id, grp in pdf.groupby("image_id", sort=False):
            buf = bytes(grp["bytes"].iloc[0])
            # buffer per image so a mid-image failure drops the WHOLE image
            # (dead-letter contract: all-or-nothing, never a partial result)
            img_rows: list[tuple] = []
            try:
                m = decode_metadata(buf)
                chunk_info = {c["chunk_idx"]: c for c in pixel_chunks(m)}
                for idx in grp["chunk_idx"]:
                    c = chunk_info.get(int(idx))
                    if c is None:  # driver/executor meta disagree (truncated)
                        raise TiffError(f"chunk {int(idx)} missing at decode")
                    px = decode_chunk(
                        buf[c["offset"] : c["offset"] + c["nbytes"]],
                        m, c["chunk_idx"], c["size_x"], c["size_y"],
                    )
                    band0 = px[:, :, 0].astype("int64")
                    img_rows.append((image_id, int(idx), int(band0.size), int(band0.sum())))
            except TiffError:
                continue  # dead-letter: bad images drop out, never raise
            out.extend(img_rows)
        yield pd.DataFrame(out, columns=WINDOW_READ_SCHEMA.fieldNames())


def read_window_pruned(
    spark,
    path: str,
    x0: float,
    y0: float,
    x1: float,
    y1: float,
    margin: float = 2.0,
    res: int = 3,
):
    """Scan a cell-partitioned images table (sources.images.write_images_by_cell)
    reading ONLY the partitions whose coarse cell intersects the window.

    `margin` must bound the maximum footprint half-extent of any image: the
    partition key is the footprint *center* cell, so an image whose center
    sits up to `margin` outside the window can still intersect it. The
    expanded window's res-`res` cell cover becomes an IN-list filter on the
    partition column — Catalyst turns it into PartitionFilters and never
    opens files outside the region (partition pruning at the scan, the
    Spark analog of the reference's seek-past-unneeded-chunks).

    Only the cover's partition directories are listed: a glob over
    `part_cell={c1,c2,...}` read with `basePath`, so the scan never lists
    the whole table (past `parallelPartitionDiscovery.threshold`
    directories that listing is a Spark job of its own). The IN filter
    stays, so the rows cannot differ from a full-table read. When no
    directory matches, the full-table read (filtered to nothing) keeps the
    table's schema.
    """
    from ..functions.cells import np_cover_rect

    cover = [int(c) for c in np_cover_rect(x0 - margin, y0 - margin, x1 + margin, y1 + margin, res)]
    jvm = spark.sparkContext._jvm
    pattern = jvm.org.apache.hadoop.fs.Path(f"{path}/part_cell={{{','.join(map(str, cover))}}}")
    fs = pattern.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    dirs = [str(st.getPath()) for st in (fs.globStatus(pattern) or [])]
    if dirs:
        df = spark.read.option("basePath", path).parquet(*dirs)
    else:
        df = spark.read.parquet(path)
    return df.filter(F.col("part_cell").isin(cover))


def window_read(
    with_meta_df: DataFrame, x0: float, y0: float, x1: float, y1: float
) -> DataFrame:
    """Decode only the window's chunks: (image_id, chunk_idx, n_px, sum_px).

    The decode UDF runs strictly after the window filter, so Python sees only
    the selected (image, chunk) rows.
    """
    sel = window_chunks(with_meta_df, x0, y0, x1, y1).select(
        "image_id", "bytes", "chunk_idx", "size_x", "size_y"
    )
    return sel.mapInPandas(_decode_selected_batches, schema=WINDOW_READ_SCHEMA)
