"""Spatial operator tests vs in-process brute-force oracles."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from aira_spark.operators.spatial import knn_join, point_in_polygon_join
from aira_spark.sources.vectors import DIRS, points_table, polygons_table


def ray_cast(px: float, py: float, ring: list[tuple[float, float]]) -> bool:
    inside = False
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        if (ay > py) != (by > py) and px < (bx - ax) * (py - ay) / (by - ay) + ax:
            inside = not inside
    return inside


@pytest.fixture(scope="module")
def pts(spark, sf_dir):
    df = points_table(spark, sf_dir)
    return df, [(r.point_id, r.x, r.y) for r in df.collect()]


@pytest.fixture(scope="module")
def polys(spark, sf_dir):
    df = polygons_table(spark, sf_dir)
    rings = {
        r.poly_id: [(v.x, v.y) for v in r.ring] for r in df.collect()
    }
    return df, rings


def test_polygon_rings_closed(polys):
    _, rings = polys
    for ring in rings.values():
        assert ring[0] == ring[-1]
        assert len(ring) == 9


def test_pip_matches_bruteforce(spark, pts, polys):
    pts_df, pt_rows = pts
    poly_df, rings = polys
    got = {
        (r.point_id, r.poly_id)
        for r in point_in_polygon_join(pts_df, poly_df).select("point_id", "poly_id").collect()
    }
    expected = {
        (pid, poly_id)
        for pid, x, y in pt_rows
        for poly_id, ring in rings.items()
        if ray_cast(x, y, ring)
    }
    assert got == expected
    assert len(expected) > 0  # non-trivial by construction


def test_knn_matches_bruteforce(spark, pts, sf_dir):
    pts_df, pt_rows = pts
    queries = spark.read.parquet(f"{sf_dir}/supplier.parquet").selectExpr(
        "s_suppkey AS query_id",
        "CAST((s_suppkey * 48271) % 350000000 AS DOUBLE) / 1000000.0 - 178.0 AS x",
        "CAST((s_suppkey * 69621) % 170000000 AS DOUBLE) / 1000000.0 - 86.0 AS y",
    )
    k = 5
    got = {}
    for r in knn_join(queries, pts_df, k=k).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.dist))
    q_rows = [(r.query_id, r.x, r.y) for r in queries.collect()]
    P = np.array([(x, y) for _, x, y in pt_rows])
    ids = np.array([pid for pid, _, _ in pt_rows])
    for qid, qx, qy in q_rows:
        d = np.sqrt(((P - np.array([qx, qy])) ** 2).sum(axis=1))
        order = np.lexsort((ids, d))[:k]
        expected = [(int(ids[i]), float(d[i])) for i in order]
        got_q = sorted(got[qid])
        assert len(got_q) == k, f"query {qid}: got {len(got_q)} neighbors"
        for (rank, nid, dist), (eid, ed) in zip(got_q, expected):
            assert nid == eid, f"query {qid} rank {rank}: {nid} != {eid}"
            assert abs(dist - ed) < 1e-9


def test_spatial_joins_build_in_few_py4j_calls(spark, pts, polys, monkeypatch):
    """Building the pip and within-distance DataFrames (no action) stays a
    few dozen py4j round trips: the cell, cover and ring predicates are one
    F.expr each. Built operator by operator as PySpark Columns they took
    ~4,500 (pip) and ~1,100 (within) round trips, most of the driver time
    of a small spatial query. Measured: ~40 each, counted after one
    uncounted build (the first build in a session also pays one-time JVM
    lookups, ~80 calls)."""
    from aira_spark.operators.spatial import within_distance_join

    pts_df, _ = pts
    poly_df, _ = polys
    queries = pts_df.selectExpr("point_id AS query_id", "x", "y").limit(5)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting_send(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    point_in_polygon_join(pts_df, poly_df)
    within_distance_join(queries, pts_df, 0.5)
    monkeypatch.setattr(client, "send_command", counting_send)
    point_in_polygon_join(pts_df, poly_df)
    pip_calls, calls[0] = calls[0], 0
    within_distance_join(queries, pts_df, 0.5)
    within_calls = calls[0]
    monkeypatch.undo()
    assert 0 < pip_calls <= 60, pip_calls
    assert 0 < within_calls <= 60, within_calls


def test_pip_salted_same_result(spark, sf_dir, pts, polys):
    import __spark_entry__ as em

    plain = {(r.point_id, r.poly_id) for r in em.q_pip(spark, sf_dir).collect()}
    salted = {(r.point_id, r.poly_id) for r in em.q_pip_salted(spark, sf_dir).collect()}
    assert plain == salted


def test_multimodal_features(spark, sf_dir):
    from aira_spark.operators.multimodal import image_features
    import __spark_entry__ as em

    imgs = em._images(spark, sf_dir)
    feats = image_features(imgs)
    rows = feats.collect()
    assert all(r.error is None for r in rows)
    assert all(len(r.thumb8) == 64 for r in rows)
    # dead-letter paths: error rows, no exceptions. JPEG is a REAL codec
    # since round 5 (aira_spark/jpegio.py), so a truncated JPEG yields a
    # JpegError row; audio remains the documented env-blocked stub
    fake = spark.createDataFrame(
        [
            ("m1", "jpeg", bytearray(b"\xff\xd8")),
            ("m2", "fake-img", bytearray(b"xx")),
            ("m3", "mp3", bytearray(b"ID3")),
        ],
        "image_id string, fmt string, bytes binary",
    )
    frows = {r.image_id: r for r in image_features(fake).collect()}
    assert frows["m1"].error and "JPEG" in frows["m1"].error
    assert frows["m2"].error is None and len(frows["m2"].thumb8) == 64
    assert frows["m3"].error and "not available" in frows["m3"].error


def test_frame_sample_stub(spark):
    from aira_spark.operators.multimodal import frame_sample

    media = spark.createDataFrame(
        [("v1", "fake-video", bytearray(b"x" * 25)), ("v2", "mp4", bytearray(b"y"))],
        "media_id string, fmt string, bytes binary",
    )
    rows = frame_sample(media, every_n=10).collect()
    v1 = [r for r in rows if r.media_id == "v1"]
    v2 = [r for r in rows if r.media_id == "v2"]
    assert len(v1) >= 1 and all(r.error is None for r in v1)
    assert len(v2) == 1 and "not available" in v2[0].error
