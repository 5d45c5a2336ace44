"""Per-layer metrics: unit, engine layer, and the end-to-end metric and
workload each should move (the prediction for every other workload is no
change). BENCHMARK.json's per_layer list must name exactly these metrics;
test_metrics.py checks it.

Layers a workload does not exercise are measured in its traced run by a
probe: one operation of each other workload at probe size, on the same seed.
"""

from __future__ import annotations

TJ, SQ, CR = "tile_join", "spatial_queries", "checkpoint_resume"
PLAN_QUERIES = ("tile_pass", "pip", "pip_salted", "knn", "within", "window", "zonal", "stage_read")

# checkpoint_resume runs by hand (--workload checkpoint_resume) but is not a
# BENCHMARK.json workload: at 60-70 s a run (most of it JVM start and set-up)
# a third workload does not fit the time budget of the repeated benchmark
# runs. Its layers are measured in every traced run by the probe.

# per-layer metrics where a larger value is better; every other one is lower
HIGHER = {
    "tiff.decoded_mb_per_s", "cells.np_cells_per_s", "spatial.pip_hit_ratio",
    "checkpoint.rows_committed_per_s", "spark.busy_frac", "spark.scaling_eff_1to4",
}

# name -> (unit, layer, [(end-to-end metric, workload), ...])
PER_LAYER: dict[str, tuple[str, str, list[tuple[str, str]]]] = {
    "session.start_s": ("s", "session", [("setup_s", w) for w in (TJ, SQ, CR)]),
    "images.write_s": ("s", "sources.images", [("setup_s", TJ), ("setup_s", SQ), ("setup_s", CR)]),
    "images.by_cell_write_s": ("s", "sources.images", [("setup_s", SQ)]),
    "images.mb_on_disk": ("MB", "sources.images", [("setup_s", TJ), ("setup_s", SQ)]),
    "chunks.tiles_write_s": ("s", "operators.chunks", [("setup_s", CR)]),
    "tiff.meta_us_per_image": ("us", "tiff.meta", [("items_per_s", TJ)]),
    "tiff.pixel_decode_us_per_image": ("us", "tiff.pixels", [("items_per_s", TJ), ("items_per_s", SQ)]),
    "tiff.decoded_mb_per_s": ("MB/s", "tiff.pixels", [("items_per_s", TJ), ("items_per_s", SQ)]),
    "cells.np_cells_per_s": ("1/s", "functions.cells", [("items_per_s", TJ)]),
    "udfs.full_decode_us_per_image": ("us", "functions.udfs", [("items_per_s", TJ)]),
    "udfs.zonal_us_per_image": ("us", "functions.udfs", [("items_per_s", TJ)]),
    "udfs.overhead_us_per_image": ("us", "functions.udfs", [("items_per_s", TJ)]),
    "udfs.arrow_in_mb": ("MB", "functions.udfs", [("items_per_s", TJ)]),
    "pipeline.decode_s": ("s", "functions.udfs", [("items_per_s", TJ)]),
    "chunks.explode_s": ("s", "operators.chunks", [("items_per_s", TJ)]),
    "chunks.cover_s": ("s", "operators.chunks", [("items_per_s", TJ)]),
    "pipeline.join_agg_s": ("s", "operators.chunks", [("items_per_s", TJ)]),
    "chunks.rows": ("count", "operators.chunks", [("items_per_s", TJ)]),
    "chunks.cover_rows": ("count", "operators.chunks", [("items_per_s", TJ)]),
    "spatial.pip_ms": ("ms", "operators.spatial", [("op_p50_ms", SQ)]),
    "spatial.knn_ms": ("ms", "operators.spatial", [("op_p50_ms", SQ)]),
    "spatial.within_ms": ("ms", "operators.spatial", [("op_p50_ms", SQ)]),
    "spatial.pip_hit_ratio": ("ratio", "operators.spatial", [("op_p50_ms", SQ)]),
    "skew.pip_salted_ms": ("ms", "operators.skew", [("items_per_s", SQ)]),
    "skew.hot_cell_share": ("ratio", "operators.skew", [("items_per_s", SQ)]),
    "window.read_ms": ("ms", "operators.window_read", [("items_per_s", SQ)]),
    "window.files_read_frac": ("ratio", "operators.window_read", [("items_per_s", SQ)]),
    "window.chunks_decoded_frac": ("ratio", "operators.window_read", [("items_per_s", SQ)]),
    "zonal.window_ms": ("ms", "operators.zonal", [("items_per_s", SQ)]),
    "checkpoint.write_s": ("s", "sources.checkpoint", [("items_per_s", CR)]),
    "checkpoint.resume_s": ("s", "sources.checkpoint", [("items_per_s", CR), ("op_p50_ms", CR)]),
    "checkpoint.verify_s": ("s", "sources.checkpoint", [("op_p50_ms", CR)]),
    "checkpoint.read_s": ("s", "sources.checkpoint", [("op_p50_ms", CR)]),
    "checkpoint.merge_s": ("s", "sources.checkpoint", [("op_p50_ms", CR)]),
    "checkpoint.compact_s": ("s", "sources.checkpoint", [("op_p50_ms", CR)]),
    "checkpoint.files_before_compact": ("count", "sources.checkpoint", [("op_p50_ms", CR)]),
    "checkpoint.files_after_compact": ("count", "sources.checkpoint", [("op_p50_ms", CR)]),
    "checkpoint.bytes_per_row": ("B", "sources.checkpoint", [("op_p50_ms", CR)]),
    "checkpoint.rewritten_committed_buckets": ("count", "sources.checkpoint", [("items_per_s", CR)]),
    "checkpoint.rows_committed_per_s": ("rows/s", "sources.checkpoint", [("items_per_s", CR)]),
    **{
        f"plans.{kind}.{q}": ("count", "plans.inspect", [("op_p50_ms", wl)])
        for q, wl in zip(PLAN_QUERIES, (TJ, SQ, SQ, SQ, SQ, SQ, SQ, CR))
        for kind in ("shuffles", "broadcast")
    },
    "spark.task_s": ("s", "spark", [("items_per_s", TJ), ("op_p50_ms", SQ), ("op_p50_ms", CR)]),
    "spark.busy_frac": ("ratio", "spark", [("items_per_s", TJ), ("op_p50_ms", SQ), ("op_p50_ms", CR)]),
    "spark.gc_frac": ("ratio", "spark", [("items_per_s", TJ), ("items_per_s", SQ), ("items_per_s", CR)]),
    "spark.shuffle_write_mb": ("MB", "spark", [("op_p50_ms", SQ), ("op_p50_ms", CR)]),
    "spark.spill_mb": ("MB", "spark", [("items_per_s", TJ), ("items_per_s", SQ), ("items_per_s", CR)]),
    "spark.task_skew": ("ratio", "spark", [("items_per_s", SQ)]),
    "spark.cached_mb": ("MB", "spark", [("items_per_s", SQ)]),
    "spark.scaling_eff_1to4": ("ratio", "spark", [("items_per_s", TJ)]),
    "loop.samples": ("count", "benchmark", []),
    "loop.tail_ms": ("ms", "benchmark", []),
    "loop.tail_pct": ("pct", "benchmark", []),
    "loop.failed_frac": ("ratio", "benchmark", []),
    "trace.overhead_frac": ("ratio", "benchmark", []),
}
