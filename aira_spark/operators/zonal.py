"""Raster -> vector zonal statistics.

Map side: the Arrow UDF decodes pixels and partially aggregates per
(image, cell) in numpy (functions/udfs.zonal_pixel_batches) — this is the
map-side combine; the reduce side is a stock Catalyst hash aggregation on
`cell`, so the shuffle carries (image x cells) rows, never pixels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from ..functions.udfs import ZONAL_PIX_SCHEMA, zonal_pixel_batches
from .spatial import polygon_cells


def per_image_cell_stats(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(image_id, cell, px_cnt, px_sum, px_min, px_max) — pixel-level zonal map."""
    return images.select("image_id", "bytes").mapInPandas(
        zonal_pixel_batches(res), schema=ZONAL_PIX_SCHEMA
    )


def zonal_stats(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """Aggregate decoded pixels over grid-cell zones (SURVEY.md §2.2)."""
    return (
        per_image_cell_stats(images, res)
        .groupBy("cell")
        .agg(
            F.sum("px_cnt").alias("n_px"),
            F.sum("px_sum").alias("sum_px"),
            F.min("px_min").alias("min_px"),
            F.max("px_max").alias("max_px"),
        )
    )


def zonal_stats_bands(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """Multi-band zonal statistics: (cell, band, n_px, sum_px, min_px,
    max_px) — every sample channel aggregated independently over the same
    cell grid (satellite-band semantics). Map side decodes once per image and
    emits per-(cell, band) partials; reduce is one hash agg on (cell, band)."""
    import pandas as pd
    from collections.abc import Iterator

    from ..functions.udfs import _zonal_partials_bands, decoded_images

    # no image_id in the partials: the reduce groups on (cell, band) only, so
    # shipping the id across Arrow would be dead weight
    schema = (
        "cell long, band int, px_cnt long, px_sum long, px_min long, px_max long"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for _, m, px in decoded_images(pdf):
                out.extend(_zonal_partials_bands(m, px, res))
            yield pd.DataFrame(
                out,
                columns=["cell", "band", "px_cnt", "px_sum", "px_min", "px_max"],
            )

    return (
        images.select("bytes")
        .mapInPandas(fn, schema=schema)
        .groupBy("cell", "band")
        .agg(
            F.sum("px_cnt").alias("n_px"),
            F.sum("px_sum").alias("sum_px"),
            F.min("px_min").alias("min_px"),
            F.max("px_max").alias("max_px"),
        )
    )


def band_index_stats(
    images: DataFrame, res: int = DEFAULT_RES, b0: int = 0, b1: int = 1
) -> DataFrame:
    """NDVI-style normalized band-difference index aggregated per cell:
    idx = floor(1000 * (band_b1 - band_b0) / (band_b1 + band_b0)) per pixel
    (integer-quantized so sums are order-independent and bit-reproducible by
    SQL — float accumulation order would differ between engines), then
    (cell, n_px, sum_idx, min_idx, max_idx). Images with fewer than
    max(b0, b1)+1 channels are skipped (single-band rasters have no ratio);
    pixels whose band sum is 0 (nodata in both bands) are excluded — their
    ratio is undefined.
    """
    import pandas as pd
    from collections.abc import Iterator

    import numpy as np

    from ..functions.udfs import decoded_images, pixel_cell_groups, reduce_by_cell

    schema = "cell long, px_cnt long, px_sum long, px_min long, px_max long"
    need = max(b0, b1) + 1

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for _, m, px in decoded_images(pdf, max_bands=need):
                if px.shape[2] < need:
                    continue
                groups = pixel_cell_groups(m, px, res)
                if groups is None:
                    continue
                order, uniq, starts, ends = groups
                v0 = px[:, :, b0].astype(np.float64).ravel()
                v1 = px[:, :, b1].astype(np.float64).ravel()
                valid = (v0 + v1) > 0.0
                # same expression order as the oracle SQL text
                idx = np.zeros(len(v0), dtype=np.int64)
                idx[valid] = np.floor(
                    1000.0 * (v1[valid] - v0[valid]) / (v1[valid] + v0[valid])
                ).astype(np.int64)
                if valid.all():
                    # the shared order-aligned reduceat fold (one home for
                    # the per-cell reduction — udfs.reduce_by_cell)
                    out.extend(reduce_by_cell(idx, groups))
                else:
                    # zero-sum pixels break the contiguous reduceat groups:
                    # fall back to a masked pandas-style group per image
                    cells = np.empty(len(v0), dtype=np.int64)
                    cells[order] = np.repeat(uniq, ends - starts)
                    cm, vm = cells[valid], idx[valid]
                    o2 = np.argsort(cm, kind="stable")
                    cs, vs = cm[o2], vm[o2]
                    u2, s2 = np.unique(cs, return_index=True)
                    e2 = np.append(s2[1:], len(cs))
                    out.extend(
                        (int(u), int(e0 - s0), int(np.add.reduce(vs[s0:e0])),
                         int(vs[s0:e0].min()), int(vs[s0:e0].max()))
                        for u, s0, e0 in zip(u2, s2, e2)
                    )
            yield pd.DataFrame(
                out, columns=["cell", "px_cnt", "px_sum", "px_min", "px_max"]
            )

    return (
        images.select("bytes")
        .mapInPandas(fn, schema=schema)
        .groupBy("cell")
        .agg(
            F.sum("px_cnt").alias("n_px"),
            F.sum("px_sum").alias("sum_idx"),
            F.min("px_min").alias("min_idx"),
            F.max("px_max").alias("max_idx"),
        )
    )


def zonal_rollup(
    images: DataFrame, res: int = DEFAULT_RES, steps: int = 2
) -> DataFrame:
    """Hierarchical (pyramid) rollup: pixel stats aggregated at resolution
    `res - steps`, computed from the per-image fine-cell partials via
    `cell_parent` bit arithmetic — the hypertable-rollup pattern. No second
    decode and no second pixel pass: parent ids are a pure column expression
    on the map-side partials, so the single shuffle carries (image x
    fine-cell) rows and Catalyst's partial+final hash agg does the rest. At
    scale, coarser rollups reuse the same partials with a different shift."""
    from ..functions.cells import cell_parent

    return (
        per_image_cell_stats(images, res)
        .groupBy(cell_parent(F.col("cell"), steps).alias("cell"))
        .agg(
            F.sum("px_cnt").alias("n_px"),
            F.sum("px_sum").alias("sum_px"),
            F.min("px_min").alias("min_px"),
            F.max("px_max").alias("max_px"),
        )
    )


def zonal_exact_by_polygon(
    images_with_meta: DataFrame, polygons: DataFrame
) -> DataFrame:
    """EXACT polygon-masked zonal statistics: per polygon, aggregate only the
    decoded pixels whose center lies inside the ring (pixel-level ray-cast
    mask — not the bbox-cell approximation of zonal_by_polygon).

    Plan shape: the (broadcastable, dim-table-sized) polygon side is collected
    into ONE row holding every (poly_id, ring) and cross-joined broadcast, so
    each image row crosses the Arrow boundary exactly once — no candidate-row
    duplication of the bytes payload, and per-(image, polygon) dedup is
    structural (one image = one UDF row; an earlier cell-join design could
    double-count pairs whose duplicate candidate rows straddled an Arrow
    batch boundary). Inside the UDF a numpy bbox check prefilters polygons
    per image, then the vectorized pixels-x-edges ray-cast masks; only tiny
    per-(image, polygon) partials shuffle into the final hash agg.
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    polys_one = F.broadcast(
        polygons.select(
            F.collect_list(F.struct("poly_id", "ring")).alias("polys")
        )
    )
    m = F.col("meta")
    cand = (
        images_with_meta.filter(m["error"].isNull() & m["scale_x"].isNotNull())
        .select("bytes")  # image_id never read in the UDF — dead Arrow weight
        .crossJoin(polys_one)
    )

    schema = "poly_id string, n_px long, sum_px long, min_px long, max_px long"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.udfs import decoded_images, pixel_world_coords

        polys_np = None  # identical in every row (broadcast single-row side)
        for pdf in batches:
            out: list[tuple] = []
            for rec, mm, px in decoded_images(pdf, max_bands=1):
                if polys_np is None:
                    polys_np = []
                    for p in rec.polys:
                        ring = p["ring"]
                        ax = np.array([v["x"] for v in ring[:-1]])
                        ay = np.array([v["y"] for v in ring[:-1]])
                        bx = np.array([v["x"] for v in ring[1:]])
                        by = np.array([v["y"] for v in ring[1:]])
                        bb = (
                            min(ax.min(), bx.min()), min(ay.min(), by.min()),
                            max(ax.max(), bx.max()), max(ay.max(), by.max()),
                        )
                        polys_np.append((p["poly_id"], ax, ay, bx, by, bb))
                h, w = px.shape[:2]
                xs, ys, sv, _tv = pixel_world_coords(mm, h, w)
                if xs is None:
                    continue
                fxmin, fxmax = xs.min() - 0.5 * sv[0], xs.max() + 0.5 * sv[0]
                fymin, fymax = ys.min() - 0.5 * sv[1], ys.max() + 0.5 * sv[1]
                pxx = pyy = vals = None  # lazy: most images match no polygon
                for poly_id, ax, ay, bx, by, bb in polys_np:
                    if not (fxmin <= bb[2] and fxmax >= bb[0]
                            and fymin <= bb[3] and fymax >= bb[1]):
                        continue
                    if pxx is None:
                        pxx = np.broadcast_to(xs[None, :], (h, w)).ravel()
                        pyy = np.broadcast_to(ys[:, None], (h, w)).ravel()
                        vals = px[:, :, 0].astype(np.int64).ravel()
                    # vectorized ray-cast, accumulated EDGE-BY-EDGE: the
                    # pixels x edges matrix form builds O(h*w*n_edges)
                    # float64 temporaries (a 2048^2 image x 64-edge ring is
                    # ~2 GB per temporary — executor OOM); per-edge passes
                    # bound memory at O(h*w) and evaluate the identical
                    # expression text as point_in_ring / the DuckDB oracle,
                    # elementwise on the same operands, so every crossing
                    # count is bit-identical
                    crossings = np.zeros(pxx.size, dtype=np.int64)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        for j in range(ax.size):
                            cond = (ay[j] > pyy) != (by[j] > pyy)
                            if not cond.any():
                                continue
                            t = (bx[j] - ax[j]) * (pyy - ay[j]) / (
                                by[j] - ay[j]
                            ) + ax[j]
                            crossings += cond & (pxx < t)
                    mask = (crossings % 2) == 1
                    if not mask.any():
                        continue
                    mv = vals[mask]
                    out.append(
                        (poly_id, int(mv.size), int(mv.sum()), int(mv.min()), int(mv.max()))
                    )
            yield pd.DataFrame(
                out, columns=["poly_id", "n_px", "sum_px", "min_px", "max_px"]
            )

    partials = cand.mapInPandas(fn, schema=schema)
    return partials.groupBy("poly_id").agg(
        F.sum("n_px").alias("n_px"),
        F.sum("sum_px").alias("sum_px"),
        F.min("min_px").alias("min_px"),
        F.max("max_px").alias("max_px"),
    )


def zonal_by_polygon(
    images: DataFrame, polygons: DataFrame, res: int = DEFAULT_RES
) -> DataFrame:
    """Zonal stats per polygon category: cell-level partials joined (broadcast)
    to the polygon cell cover, re-aggregated per category."""
    cells = per_image_cell_stats(images, res)
    poly = F.broadcast(polygon_cells(polygons, res).select("cell", "poly_id", "category"))
    return (
        cells.join(poly, "cell")
        .groupBy("category")
        .agg(
            F.sum("px_cnt").alias("n_px"),
            F.sum("px_sum").alias("sum_px"),
            F.min("px_min").alias("min_px"),
            F.max("px_max").alias("max_px"),
        )
    )


def band_histogram(images: DataFrame) -> DataFrame:
    """(image_id, band, value, cnt): exact per-band pixel-value histogram —
    the raster normalization/stretch primitive.

    Map side: one decode per image, np.bincount per band, only NONZERO bins
    emitted (the Arrow payload is the sparse histogram, never pixels).
    Reduce side: none needed per image; corpus-level histograms are a stock
    groupBy(band, value) hash agg over this output. All synthetic-variant
    dtypes hold integer values 0..255 (the float variant stores exact
    integers), so counts are exact in every engine."""
    import pandas as pd
    from collections.abc import Iterator

    import numpy as np

    from ..functions.udfs import decoded_images

    cols = ["image_id", "band", "value", "cnt"]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for rec, _, px in decoded_images(pdf):
                for band in range(px.shape[2]):
                    vals = px[:, :, band].astype(np.int64).ravel()
                    if vals.size and (vals.min() < 0 or vals.max() > 65535):
                        # signed/float raster outside the histogram domain:
                        # bincount would raise (negatives) or allocate a
                        # value-range-sized array — dead-letter the band,
                        # matching the decode-failure contract
                        continue
                    bc = np.bincount(vals)
                    for v in np.flatnonzero(bc):
                        out.append((rec.image_id, band, int(v), int(bc[v])))
            yield pd.DataFrame(out, columns=cols)

    return images.select("image_id", "bytes").mapInPandas(
        fn, schema="image_id string, band int, value int, cnt long"
    )


def _cell_value_counts(images: DataFrame, res: int) -> DataFrame:
    """(cell, value, cnt) — the aggregated sparse per-(cell, band-0 value)
    histogram both zonal_quantiles and zonal_majority reduce over (one
    implementation, so a fix can never reach one and miss the other).

    Dead-letter guard: np.bincount requires small nonnegative ints — a
    signed-sample or float raster (negative values, NaN -> INT64_MIN) or a
    wide-dynamic-range image would raise ValueError / allocate an absurd
    count array and kill the whole task. Out-of-domain images DROP, like
    undecodable ones, honoring the repo's never-raise-per-row contract;
    the histogram family is defined over categorical/8-16-bit rasters."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ..functions.udfs import decoded_images, pixel_cell_groups

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for _, m, px in decoded_images(pdf, max_bands=1):
                groups = pixel_cell_groups(m, px, res)
                if groups is None:
                    continue
                order, uniq, starts, ends = groups
                vals = px[:, :, 0].astype(np.int64).ravel()[order]
                if vals.size and (vals.min() < 0 or vals.max() > 65535):
                    continue  # out of the histogram family's value domain
                for cell, s0, e0 in zip(uniq, starts, ends):
                    bc = np.bincount(vals[s0:e0])
                    for v in np.flatnonzero(bc):
                        out.append((int(cell), int(v), int(bc[v])))
            yield pd.DataFrame(out, columns=["cell", "value", "cnt"])

    return (
        images.select("bytes")
        .mapInPandas(fn, schema="cell long, value long, cnt long")
        .groupBy("cell", "value")
        .agg(F.sum("cnt").alias("cnt"))
    )


def zonal_quantiles(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(cell, n_px, p25, median, p75): EXACT per-cell quantiles of band-0
    pixel values — the order statistic, not an approximation.

    Quantiles do not decompose into partial aggregates, but the VALUE
    HISTOGRAM does: pixel values are small integers, so the map side emits
    per-(cell, value) counts (<= 256 rows per cell whatever the pixel
    count), the reduce is a stock hash agg, and the quantile is read off the
    cumulative histogram with integer arithmetic — quantile q = the smallest
    value whose cumulative count reaches ceil(q * n). At 100 TB this shuffles
    bounded histogram rows, never pixels, where a sort-based exact quantile
    would shuffle every pixel value.
    """
    from pyspark.sql import Window

    vc = _cell_value_counts(images, res)
    wcum = Window.partitionBy("cell").orderBy("value")
    wall = Window.partitionBy("cell")
    cum = vc.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "n", F.sum("cnt").over(wall)
    )
    # integer rank thresholds via cross-multiplication (no division):
    # cum >= ceil(q*n)  <=>  cum * den >= n * num   for q = num/den
    q = cum.groupBy("cell", "n").agg(
        F.min(F.when(F.col("cum") * 4 >= F.col("n"), F.col("value"))).alias("p25"),
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("value"))).alias("median"),
        F.min(F.when(F.col("cum") * 4 >= F.col("n") * 3, F.col("value"))).alias("p75"),
    )
    return q.select("cell", F.col("n").alias("n_px"), "p25", "median", "p75")


def zonal_majority(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(cell, n_px, n_distinct, mode_val, mode_cnt): the majority
    (most-frequent) band-0 pixel value per cell — GDAL/zonal "majority"
    resampling, the categorical-raster rollup (land-cover class per zone).

    Ties break to the SMALLEST value (a stated convention): the argmax is
    MIN(struct(-cnt, value)) — an exact integer lexicographic fold, so the
    result is order-independent and identical in both engines.

    Scale shape: identical to zonal_quantiles — the map side emits the
    sparse per-(cell, value) histogram (<= 256 rows per cell whatever the
    pixel count), one hash agg merges partials, and the majority is one
    more bounded agg; pixels never shuffle."""
    vc = _cell_value_counts(images, res)
    return (
        vc.groupBy("cell")
        .agg(
            F.sum("cnt").cast("long").alias("n_px"),
            F.count("*").cast("long").alias("n_distinct"),
            F.min(F.struct((-F.col("cnt")).alias("nc"),
                           F.col("value").alias("v"))).alias("top"),
        )
        .selectExpr(
            "CAST(cell AS BIGINT) AS cell", "n_px", "n_distinct",
            "CAST(top.v AS BIGINT) AS mode_val",
            "CAST(-top.nc AS BIGINT) AS mode_cnt",
        )
    )
