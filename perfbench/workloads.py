"""The three benchmark workloads.

Each workload has
  materialize(ctx, dest)  set-up work timed into setup_s: input through the
                          engine's own writers (after the session starts);
  prepare(ctx, dest)      untimed: open the materialized tables, draw the
                          seeded query parameters, compute the references;
  ops()                   the closed-loop cycle: (kind, fn) pairs, each fn
                          returning (correct, items) for one operation;
  layer_facts(ctx)        traced run only: counts and ratios of its layers.

Every engine call goes through the public functions of the engine modules
and is wrapped in a span named after the layer it enters.
"""

from __future__ import annotations

import os
import shutil
import statistics

import numpy as np
from pyspark.sql import functions as F

from aira_spark.functions.cells import DEFAULT_RES as RES
from aira_spark.functions.cells import cell_from_xy
from aira_spark.plans.inspect import count_in_plan, shuffle_count
from aira_spark.sources import checkpoint as ck
from aira_spark.sources.images import images_table, write_images, write_images_by_cell
from aira_spark.sources.vectors import points_table, polygons_table
from inputs import Sizes
from oracle import KNN, PAIRS, TILE_CELLS, TILES, WINDOW, WITHIN, ZONAL, spark_digest

PART_RES = 3  # partition cell resolution of the by-cell layout
WINDOW_MARGIN = 2.0  # read_window_pruned default; bounds any footprint half-extent


def plan_counts(df) -> tuple[int, int]:
    """(shuffle exchanges, broadcast exchanges) of the physical plan."""
    return shuffle_count(df), count_in_plan(df, "BroadcastExchange")


class TileJoin:
    """North-star batch pass: decode -> chunks -> cell cover -> broadcast
    join with points -> per-cell aggregate."""

    name = "tile_join"
    warmup_cycles = 2  # the first timed pass after one warm-up pass is still ~25% slow
    sizes = Sizes(images=840, points=20_000, hot_share=0.2, polygons=8, query_points=8)
    probe_sizes = Sizes(images=240, points=10_000, hot_share=0.2, polygons=8, query_points=8)

    def materialize(self, ctx, dest: str) -> None:
        with ctx.tracer.span("images.write"):
            write_images(ctx.spark, ctx.tables_dir, f"{dest}/images", buckets=2 * ctx.cores)

    def prepare(self, ctx, dest: str) -> None:
        spark = ctx.spark
        self.ctx = ctx
        self.images_path = f"{dest}/images"
        self.images = spark.read.parquet(self.images_path).select("image_id", "bytes")
        self.n_images = ctx.sizes.images
        self.expected = ctx.oracle.tile_cells()
        self.expected_chunks = ctx.oracle.chunk_count()
        self.facts = {}

    def _pass(self, spark, images):
        from aira_spark.functions.udfs import FULL_DECODE_SCHEMA, full_decode_batches
        from aira_spark.operators.chunks import cell_cover, chunks_df

        tr = self.ctx.tracer
        fd = images.mapInPandas(full_decode_batches(RES), FULL_DECODE_SCHEMA).persist()
        try:
            with tr.span("pipeline.decode"):
                fd.count()
            wm = fd.select("image_id", "meta")
            with tr.span("chunks.explode"):
                n_chunks = chunks_df(wm).count()
            cover = cell_cover(wm, RES).select("image_id", "cell")
            with tr.span("chunks.cover"):
                n_cover = cover.count()
            px = fd.select(F.explode("zonal").alias("z")).select(
                F.col("z.cell").alias("cell"),
                F.col("z.px_sum").alias("px_sum"),
                F.col("z.px_cnt").alias("px_cnt"),
            )
            pts = points_table(spark, self.ctx.tables_dir).select(
                "point_id", cell_from_xy(F.col("x"), F.col("y"), RES).alias("cell")
            )
            joined = (
                cover.join(pts, "cell")
                .groupBy("cell")
                .agg(
                    F.countDistinct("image_id").alias("n_images"),
                    F.countDistinct("point_id").alias("n_points"),
                )
                .join(
                    px.groupBy("cell").agg(
                        F.sum("px_sum").alias("sum_px"), F.sum("px_cnt").alias("n_px")
                    ),
                    "cell",
                    "left",
                )
            )
            with tr.span("pipeline.join_agg"):
                digest = spark_digest(joined, TILE_CELLS)
            self.last_df = joined
        finally:
            fd.unpersist()
        self.facts["chunks.rows"] = n_chunks
        self.facts["chunks.cover_rows"] = n_cover
        return n_chunks == self.expected_chunks and digest == self.expected

    def tile_pass(self):
        with self.ctx.tracer.span("op.tile_pass"):
            ok = self._pass(self.ctx.spark, self.images)
        return ok, self.n_images

    def scaling_pass(self, spark) -> bool:
        """One pass on another session (the local[1] scaling probe)."""
        return self._pass(spark, spark.read.parquet(self.images_path).select("image_id", "bytes"))

    def ops(self):
        return [("tile_pass", self.tile_pass)]

    def layer_facts(self, ctx) -> dict:
        return dict(self.facts, **{"plans.tile_pass": plan_counts(self.last_df)})


class SpatialQueries:
    """Seeded interactive queries against prepared point/polygon/image
    tables: pip, pip_salted, knn, within, window, zonal (in that order)."""

    name = "spatial_queries"
    warmup_cycles = 1
    sizes = Sizes(images=240, points=20_000, hot_share=0.4, polygons=80, query_points=60)
    probe_sizes = Sizes(images=240, points=10_000, hot_share=0.4, polygons=40, query_points=40)
    PARAM_SETS = 2

    def materialize(self, ctx, dest: str) -> None:
        # the synthesized images go straight into the cell-partitioned layout
        with ctx.tracer.span("images.by_cell_write"):
            write_images_by_cell(
                ctx.spark, images_table(ctx.spark, ctx.tables_dir), f"{dest}/by_cell", res=PART_RES
            )

    def prepare(self, ctx, dest: str) -> None:
        import __spark_entry__ as em

        spark = ctx.spark
        self.ctx = ctx
        self.by_cell = self.images_path = f"{dest}/by_cell"
        self.pts = points_table(spark, ctx.tables_dir)
        self.polys = polygons_table(spark, ctx.tables_dir)
        self.query_pts = spark.read.parquet(f"{ctx.tables_dir}/supplier.parquet").selectExpr(
            "s_suppkey AS query_id", f"{em._KNN_QX} AS x", f"{em._KNN_QY} AS y"
        )
        rng = np.random.default_rng([ctx.seed, 1])
        nation = sorted(int(k) for k in ctx.keys["nation"])
        supplier = sorted(int(k) for k in ctx.keys["supplier"])
        self.params = []
        for _ in range(self.PARAM_SETS):
            x0 = float(rng.uniform(-170.0, 130.0))
            y0 = float(rng.uniform(-80.0, 40.0))
            self.params.append(
                {
                    "polys": sorted(int(k) for k in rng.choice(nation, 10, replace=False)),
                    "queries": sorted(int(k) for k in rng.choice(supplier, 20, replace=False)),
                    "win": (round(x0, 3), round(y0, 3), round(x0 + 20.0, 3), round(y0 + 20.0, 3)),
                }
            )
        o = ctx.oracle
        self.expected = [
            {
                "pip": o.pip(p["polys"]),
                "knn": o.knn(p["queries"]),
                "within": o.within(p["queries"], 0.5),
                "window": o.window(p["win"]),
                "zonal": o.zonal_in_partitions(p["win"], WINDOW_MARGIN, PART_RES),
            }
            for p in self.params
        ]
        self.cycle = 0
        self.last_df = {}

    def _p(self):
        return self.params[self.cycle % self.PARAM_SETS], self.expected[self.cycle % self.PARAM_SETS]

    def _sel_polys(self, keys):
        return self.polys.filter(F.col("poly_id").isin([f"poly{k}" for k in keys]))

    def pip(self):
        from aira_spark.operators.spatial import point_in_polygon_join

        p, e = self._p()
        with self.ctx.tracer.span("spatial.pip"):
            df = point_in_polygon_join(self.pts, self._sel_polys(p["polys"]), RES)
            got = spark_digest(df, PAIRS)
        self.last_df["pip"] = df
        return got == e["pip"], 1

    def pip_salted(self):
        from aira_spark.operators.skew import hot_keys, replicate_for_salted_join, salt_column
        from aira_spark.operators.spatial import point_in_ring, polygon_cells

        p, e = self._p()
        with self.ctx.tracer.span("skew.pip_salted"):
            pts = self.pts.withColumn("cell", cell_from_xy(F.col("x"), F.col("y"), RES))
            hot = hot_keys(pts, "cell", threshold_frac=0.05, sample_frac=1.0)
            salted = salt_column(pts, "cell", hot, n_salt=8, uid="point_id")
            poly = replicate_for_salted_join(polygon_cells(self._sel_polys(p["polys"]), RES), n_salt=8)
            cand = salted.repartition(F.col("cell"), F.col("salt")).join(
                F.broadcast(poly), ["cell", "salt"]
            )
            df = cand.filter(point_in_ring(F.col("x"), F.col("y"), F.col("ring")))
            got = spark_digest(df, PAIRS)
        self.last_df["pip_salted"] = df
        return got == e["pip"], 1

    def _queries(self, keys):
        return self.query_pts.filter(F.col("query_id").isin(keys))

    def knn(self):
        from aira_spark.operators.spatial import knn_join

        p, e = self._p()
        with self.ctx.tracer.span("spatial.knn"):
            df = knn_join(self._queries(p["queries"]), self.pts, k=5, res=RES, cleanup=True)
            got = spark_digest(df.withColumnRenamed("rank", "rnk"), KNN)
        self.last_df["knn"] = df
        return got == e["knn"], 1

    def within(self):
        from aira_spark.operators.spatial import within_distance_join

        p, e = self._p()
        with self.ctx.tracer.span("spatial.within"):
            df = within_distance_join(self._queries(p["queries"]), self.pts, d=0.5, res=RES)
            got = spark_digest(df, WITHIN)
        self.last_df["within"] = df
        return got == e["within"], 1

    def _pruned(self, win):
        from aira_spark.operators.window_read import read_window_pruned

        return read_window_pruned(self.ctx.spark, self.by_cell, *win, margin=WINDOW_MARGIN, res=PART_RES)

    def window(self):
        from aira_spark.operators.chunks import with_meta
        from aira_spark.operators.window_read import window_read

        p, e = self._p()
        with self.ctx.tracer.span("window.read"):
            df = window_read(with_meta(self._pruned(p["win"])), *p["win"])
            got = spark_digest(df, WINDOW)
        self.last_df["window"] = df
        return got == e["window"], 1

    def zonal(self):
        from aira_spark.operators.zonal import zonal_stats

        p, e = self._p()
        with self.ctx.tracer.span("zonal.window"):
            df = zonal_stats(self._pruned(p["win"]), RES)
            got = spark_digest(df, ZONAL)
        self.last_df["zonal"] = df
        self.cycle += 1
        return got == e["zonal"], 1

    def ops(self):
        return [
            ("pip", self.pip),
            ("pip_salted", self.pip_salted),
            ("knn", self.knn),
            ("within", self.within),
            ("window", self.window),
            ("zonal", self.zonal),
        ]

    def layer_facts(self, ctx) -> dict:
        """Prefilter and pruning ratios, measured once on the first
        parameter set (extra Spark jobs, traced run only)."""
        from aira_spark.operators.chunks import chunks_df, with_meta
        from aira_spark.operators.spatial import point_in_polygon_join, polygon_cells
        from aira_spark.operators.window_read import window_read

        p = self.params[0]
        polys = self._sel_polys(p["polys"])
        cells = self.pts.withColumn("cell", cell_from_xy(F.col("x"), F.col("y"), RES))
        candidates = cells.join(F.broadcast(polygon_cells(polys, RES)), "cell").count()
        hits = point_in_polygon_join(self.pts, polys, RES).count()
        per_cell = cells.groupBy("cell").count()
        top = per_cell.agg(F.max("count")).first()[0]
        pruned = self._pruned(p["win"])
        all_files = len(ctx.spark.read.parquet(self.by_cell).inputFiles())
        chunks = (
            chunks_df(with_meta(pruned))
            .filter(F.col("chunk_idx") < F.col("meta.expected_chunks"))
            .count()
        )
        window_rows = window_read(with_meta(pruned), *p["win"]).count()
        scanned = pruned.select(F.input_file_name()).distinct().count()
        facts = {f"plans.{k}": plan_counts(df) for k, df in self.last_df.items()}
        facts.update(
            {
                "spatial.pip_hit_ratio": hits / candidates if candidates else 0.0,
                "skew.hot_cell_share": top / ctx.sizes.points,
                "window.files_read_frac": scanned / all_files,
                "window.chunks_decoded_frac": window_rows / chunks if chunks else 0.0,
            }
        )
        return facts


class CheckpointResume:
    """Per-partition checkpoint cycle on a tiles stage: killed write of half
    the buckets, resume, verify, read, merge a 5% update, compact."""

    name = "checkpoint_resume"
    warmup_cycles = 1
    sizes = Sizes(images=1680, points=8, hot_share=0.2, polygons=8, query_points=8)
    probe_sizes = Sizes(images=240, points=8, hot_share=0.2, polygons=8, query_points=8)
    BUCKETS = 8

    def materialize(self, ctx, dest: str) -> None:
        from aira_spark.operators.chunks import chunks_df, with_meta

        with ctx.tracer.span("images.write"):
            write_images(ctx.spark, ctx.tables_dir, f"{dest}/images", buckets=2 * ctx.cores)
        with ctx.tracer.span("chunks.tiles_write"):
            tiles = chunks_df(with_meta(ctx.spark.read.parquet(f"{dest}/images"))).selectExpr(
                "CAST(substr(image_id, 4) AS BIGINT) * 1000 + chunk_idx AS tile_key",
                "image_id", "CAST(chunk_idx AS BIGINT) AS chunk_idx",
                "CAST(origin_x AS BIGINT) AS origin_x", "CAST(origin_y AS BIGINT) AS origin_y",
                "CAST(size_x AS BIGINT) AS size_x", "CAST(size_y AS BIGINT) AS size_y",
                "offset", "nbytes",
            )
            tiles.repartition(ctx.cores).write.parquet(f"{dest}/tiles")

    def prepare(self, ctx, dest: str) -> None:
        spark = ctx.spark
        self.ctx = ctx
        self.dest = dest
        self.images_path = f"{dest}/images"
        self.src = spark.read.parquet(f"{dest}/tiles")
        self.rows = self.src.count()
        self.update_pred = f"tile_key % 20 = {ctx.seed % 20}"
        self.delta = 1 + ctx.seed % 7
        self.updates = self.src.filter(F.expr(self.update_pred)).withColumn(
            "nbytes", F.col("nbytes") + F.lit(self.delta)
        )
        self.expected = ctx.oracle.tiles(f"{dest}/tiles")
        self.expected_merged = ctx.oracle.tiles(f"{dest}/tiles", self.update_pred, self.delta)
        # one-shot write of every bucket: the resumed stage must read back equal
        oneshot = f"{dest}/oneshot"
        ck.write_stage(self.src, oneshot, "tiles", "tile_key", self.BUCKETS)
        self.oneshot_ok = spark_digest(ck.read_stage(spark, oneshot), TILES) == self.expected
        shutil.rmtree(oneshot, ignore_errors=True)
        self.cycle = 0
        self.facts = {"checkpoint.rewritten_committed_buckets": 0}

    def _snap_buckets(self, path: str) -> dict[str, set[int]]:
        data = f"{path}/data"
        return {
            d: {int(b.split("=", 1)[1]) for b in os.listdir(f"{data}/{d}") if b.startswith("bucket=")}
            for d in os.listdir(data)
            if d.startswith("snap=")
        }

    def stage_cycle(self):
        spark, tr, B = self.ctx.spark, self.ctx.tracer, self.BUCKETS
        path = f"{self.dest}/stage_{self.cycle}"
        self.cycle += 1
        killed = list(range(B // 2))
        with tr.span("op.stage_cycle"):
            with tr.span("checkpoint.write"):
                ck.write_stage(self.src, path, "tiles", "tile_key", B, only_buckets=killed)
            before = self._snap_buckets(path)
            with tr.span("checkpoint.resume"):
                ck.resume_stage(self.src, path, "tiles", "tile_key", B)
            after = self._snap_buckets(path)
            rewritten = set().union(*(b for d, b in after.items() if d not in before)) & set(killed)
            with tr.span("checkpoint.verify"):
                verified = ck.verify_manifest(spark, path, "tiles", self.src, "tile_key", B)
            with tr.span("checkpoint.read"):
                stage_df = ck.read_stage(spark, path)
                read_ok = spark_digest(stage_df, TILES) == self.expected
            with tr.span("checkpoint.merge"):
                ck.merge_stage(spark, self.updates, path, "tiles", "tile_key", B)
            with tr.span("checkpoint.compact"):
                before_c, after_c = ck.compact_stage(spark, path)
        merged_ok = spark_digest(ck.read_stage(spark, path), TILES) == self.expected_merged
        if tr.enabled:
            nbytes = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(f"{path}/data")
                for f in fs
                if f.endswith(".parquet")
            )
            self.facts.update(
                {
                    "checkpoint.files_before_compact": before_c,
                    "checkpoint.files_after_compact": after_c,
                    "checkpoint.bytes_per_row": nbytes / self.rows,
                }
            )
            self.last_df = stage_df
        self.facts["checkpoint.rewritten_committed_buckets"] += len(rewritten)
        shutil.rmtree(path, ignore_errors=True)
        ok = self.oneshot_ok and verified and read_ok and merged_ok and not rewritten
        return ok, self.rows

    def ops(self):
        return [("stage_cycle", self.stage_cycle)]

    def layer_facts(self, ctx) -> dict:
        rows_s = self.rows / (
            statistics.median(ctx.tracer.durations("checkpoint.write"))
            + statistics.median(ctx.tracer.durations("checkpoint.resume"))
        )
        return dict(self.facts, **{
            "plans.stage_read": plan_counts(self.last_df),
            "checkpoint.rows_committed_per_s": rows_s,
        })


WORKLOADS = {w.name: w for w in (TileJoin, SpatialQueries, CheckpointResume)}
