"""Regression pins for the round-5 final-session review-fix batch:

1. typed-error contract: byte-corrupt JPEG/AVI/WAV input raises the
   module's typed error (JpegError/AviError/WavError), never a bare
   IndexError/ValueError/struct.error — the dead-letter handling in
   image_features / frame_sample catches ONLY the typed errors, so an
   untyped escape fails a whole Arrow task on one bad row;
2. decode_from_parse: the split decode tail is bit-identical to
   decode_jpeg (the roundtrip verifiers entropy-decode once, not twice);
3. k_core peel-broadcast bound: forcing the shuffle path (bound = 0)
   yields the identical core — the broadcast is a hint, not semantics;
4. pagerank_fixed rounds=0 returns the uniform init ranks (the dense
   form's r0), hits_fixed rejects rounds < 1 loudly;
5. _spread_keys: a one-split key frame is spread to defaultParallelism
   partitions before the codec pass (the single-split serialization fix).
"""

import numpy as np
import pytest

from aira_spark.avio import AviError, parse_avi
from aira_spark.jpegio import (
    JpegError,
    decode_from_parse,
    decode_jpeg,
    parse_jpeg,
    write_jpeg,
)
from aira_spark.wavio import WavError, parse_wav

CORRUPT_JPEG = [
    b"\xff\xd8\xff\xc4\x00\x04\x00\x00",  # truncated DHT value list
    b"\xff\xd8\xff\xc0\x00\x08\x08\x00\x10\x00\x10\x03",  # truncated SOF comps
    b"\xff\xd8\xff\xda\x00\x04\x02\x00",  # SOS component spec cut short
    b"\xff\xd8\xff\xdb\x00\x43\x00" + b"\x01" * 10,  # truncated DQT payload
]


@pytest.mark.parametrize("buf", CORRUPT_JPEG)
def test_parse_jpeg_corrupt_raises_typed(buf):
    with pytest.raises(JpegError):
        parse_jpeg(buf)


def test_parse_avi_corrupt_raises_typed():
    for buf in [
        b"RIFF\x10\x00\x00\x00AVI LIST",  # declared size > physical
        b"RIFF\x04\x00\x00\x00AVI ",  # declared size < physical
    ]:
        with pytest.raises(AviError):
            parse_avi(buf)


def test_parse_wav_corrupt_raises_typed():
    for buf in [
        b"RIFF\x08\x00\x00\x00WAVEfmt ",  # trailing garbage after chunks
        b"RIFF\x20\x00\x00\x00WAVEfmt \x10\x00\x00\x00" + b"\x00" * 4,
    ]:
        with pytest.raises(WavError):
            parse_wav(buf)


def _tri(h, w, nc, k=0):
    r = np.arange(h)[:, None, None]
    c = np.arange(w)[None, :, None]
    s = np.arange(nc)[None, None, :]
    return (255 - np.abs(255 - (r * 5 + c * 3 + k + s * 37) % 510)).astype(np.uint8)


@pytest.mark.parametrize("nc,quality,ri", [(1, 75, 0), (3, 85, 2), (3, 95, 3)])
def test_decode_from_parse_matches_decode_jpeg(nc, quality, ri):
    src = _tri(24, 32, nc, k=7)
    buf = write_jpeg(src, quality=quality, restart_interval=ri)
    assert np.array_equal(decode_jpeg(buf), decode_from_parse(parse_jpeg(buf)))


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    )


def test_k_core_shuffle_path_matches_broadcast_path(spark, monkeypatch):
    from aira_spark.operators import graph

    # path 1-2-3 hanging off a 4-clique {10,11,12,13}: k=3 peels the path
    # (and nothing else) over two rounds, exercising the delta decrement
    pairs = [(1, 2), (2, 3), (3, 10)]
    for i, a in enumerate([10, 11, 12, 13]):
        for b in [10, 11, 12, 13][i + 1 :]:
            pairs.append((a, b))
    expected = sorted(
        graph.k_core(_edges(spark, pairs), k=3).collect(), key=lambda r: r.node
    )
    monkeypatch.setattr(graph, "PEEL_BROADCAST_MAX", 0)  # force the shuffle join
    forced = sorted(
        graph.k_core(_edges(spark, pairs), k=3).collect(), key=lambda r: r.node
    )
    assert [tuple(r) for r in forced] == [tuple(r) for r in expected]
    assert {r.node for r in expected} == {10, 11, 12, 13}
    assert all(r.core_deg == 3 for r in expected)


def test_pagerank_rounds_zero_is_uniform_init(spark):
    from aira_spark.operators.graph import INIT_MICROS, pagerank_fixed

    edges = _edges(spark, [(1, 2), (1, 3), (2, 1), (2, 3), (3, 1), (3, 2)])
    rows = pagerank_fixed(edges, out_degree=2, rounds=0).collect()
    assert len(rows) == 3
    assert all(r.rank_micros == INIT_MICROS for r in rows)


def test_hits_rejects_zero_rounds(spark):
    from aira_spark.operators.graph import hits_fixed

    with pytest.raises(ValueError, match="rounds >= 1"):
        hits_fixed(_edges(spark, [(1, 2)]), rounds=0)


def test_spread_keys_fans_out_single_split(spark):
    from aira_spark.operators.multimodal import _spread_keys

    keys = spark.range(500).selectExpr("id AS k").coalesce(1)
    assert keys.rdd.getNumPartitions() == 1
    spread = _spread_keys(keys)
    assert (
        spread.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    assert spread.count() == 500


# ------------------------------------------------- second review batch pins


def test_resume_converges_with_empty_buckets(spark, tmp_path):
    """A table whose keys occupy only some buckets: the commit must cover the
    WHOLE bucket scope (0-row manifest entries for hash-empty buckets), so
    resume is a no-op that appends no junk snapshots."""
    from aira_spark.sources.checkpoint import (
        committed_buckets,
        read_stage,
        resume_stage,
        snapshots,
        verify_manifest,
        write_stage,
    )

    path = str(tmp_path / "sparse")
    # 3 distinct keys into 64 buckets: most buckets are hash-empty
    src = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    write_stage(src, path, "s", key="k", n_buckets=64)
    assert sorted(committed_buckets(spark, path, "s")) == list(range(64))
    n_snaps = len(snapshots(path))
    resume_stage(src, path, "s", key="k", n_buckets=64)  # must no-op
    assert len(snapshots(path)) == n_snaps
    assert read_stage(spark, path).count() == 3
    assert verify_manifest(spark, path, "s", src, "k", 64)


def test_write_stage_rejects_spec_mismatch(spark, tmp_path):
    from aira_spark.sources.checkpoint import write_stage

    path = str(tmp_path / "spec")
    src = spark.createDataFrame([(1, "a")], "k long, v string")
    write_stage(src, path, "s", key="k", n_buckets=8)
    with pytest.raises(ValueError, match="spec mismatch"):
        write_stage(src, path, "s", key="k", n_buckets=16)
    with pytest.raises(ValueError, match="spec mismatch"):
        write_stage(src.withColumnRenamed("v", "w"), path, "s", key="w", n_buckets=8)


def test_cdc_rejects_interior_orphan_to_snapshot(spark, tmp_path):
    """An orphan id BELOW the log max must be rejected as to_snapshot, not
    silently accepted as an empty diff (the consumer would record a corrupt
    watermark and be forced into a full re-bootstrap one call later)."""
    import os

    from aira_spark.sources.checkpoint import read_stage_changes, write_stage

    path = str(tmp_path / "cdc")
    src = spark.createDataFrame([(1, "a")], "k long, v string")
    write_stage(src, path, "s", key="k", n_buckets=4)  # snapshot 1
    # orphan: a crashed write's data dir that never reached the metadata
    # commit — next_snapshot_id skips it, so the log becomes {1, 3}
    os.makedirs(f"{path}/data/snap=2", exist_ok=True)
    write_stage(src, path, "s", key="k", n_buckets=4)  # snapshot 3
    with pytest.raises(ValueError, match="never committed"):
        read_stage_changes(spark, path, from_snapshot=1, to_snapshot=2)
    assert read_stage_changes(spark, path, 1, 3).count() == 1


def test_rect_tangency_corner_on_edge(spark):
    """Review repro: polygon edge passing exactly through rect corner (0,1)
    with no vertex in the closed rect — case (d) must catch it; a clearly
    disjoint polygon must stay non-matching."""
    from pyspark.sql import functions as F

    from aira_spark.operators.spatial import rect_intersects_ring

    def ring_sql(pts):
        closed = pts + [pts[0]]
        return "array(" + ", ".join(
            f"named_struct('x', CAST({x} AS DOUBLE), 'y', CAST({y} AS DOUBLE))"
            for x, y in closed
        ) + ")"

    cases = [
        # edge (-0.5,0.5)->(0.5,1.5) passes exactly through (0,1): touch
        ([(-0.5, 0.5), (0.5, 1.5), (-1.0, 2.0)], True),
        # same triangle shifted well away: disjoint
        ([(5.5, 5.0), (6.5, 6.0), (5.0, 7.0)], False),
    ]
    df = spark.createDataFrame(
        [(i,) for i in range(len(cases))], "id int"
    ).select(
        "id",
        F.lit(0.0).alias("xmin"), F.lit(0.0).alias("ymin"),
        F.lit(1.0).alias("xmax"), F.lit(1.0).alias("ymax"),
    )
    for i, (pts, want) in enumerate(cases):
        got = (
            df.filter(F.col("id") == i)
            .select(
                rect_intersects_ring(
                    F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
                    F.expr(ring_sql(pts)),
                ).alias("hit")
            )
            .first()["hit"]
        )
        assert got == want, f"case {i}"


def test_knn_pole_matches_brute_force(spark):
    """Near-degenerate pole case (co-located points, wrap-around longitudes,
    near-zero distances where certification bounds go to ~0): the ring path
    must agree exactly with the brute-force (dist, neighbor_id) top-k built
    from the same distance expression. The strict certification bound
    (kth_dist < exclusion) guarantees this — an outside point at exactly
    the bound distance can win the id tie-break, so <= could diverge."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aira_spark.functions.geo import haversine_km
    from aira_spark.operators.spatial import knn_join

    queries = spark.createDataFrame(
        [(100, 0.0, 90.0), (101, 179.999, 89.999)],
        "query_id long, x double, y double",
    )
    pts = [(1, 170.0, 90.0), (2, 0.0, 90.0), (3, 0.001, 90.0),
           (4, 0.002, 90.0), (5, -179.999, 89.999)]
    points = spark.createDataFrame(pts, "point_id long, x double, y double")
    got = {
        (r.query_id, r.neighbor_id, r["rank"])
        for r in knn_join(queries, points, k=3, metric="haversine").collect()
    }
    w = Window.partitionBy("query_id").orderBy("dist", "point_id")
    brute = {
        (r.query_id, r.point_id, r.rnk)
        for r in queries.crossJoin(
            points.select(F.col("point_id"), F.col("x").alias("px"), F.col("y").alias("py"))
        )
        .withColumn("dist", haversine_km(F.col("y"), F.col("x"), F.col("py"), F.col("px")))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .collect()
    }
    assert got == brute


def test_knn_cleanup_mode_matches_default(spark):
    """cleanup=True (eager checkpoint + unpersist of every intermediate)
    returns the identical result set and leaves no persisted RDD behind."""
    from aira_spark.operators.spatial import knn_join

    queries = spark.createDataFrame(
        [(1, 10.0, 10.0), (2, -20.0, 35.0)], "query_id long, x double, y double"
    )
    points = spark.createDataFrame(
        [(i, float(i % 17) * 3 - 20, float(i % 11) * 5 - 25) for i in range(60)],
        "point_id long, x double, y double",
    )
    base = {
        (r.query_id, r.neighbor_id, r["rank"])
        for r in knn_join(queries, points, k=4).collect()
    }
    cleaned = {
        (r.query_id, r.neighbor_id, r["rank"])
        for r in knn_join(queries, points, k=4, cleanup=True).collect()
    }
    assert cleaned == base


# -------------------------------------------------- third review batch pins


def test_k_ring_uses_cell_encoded_res(spark):
    """k_ring derives the grid from the CELL's own encoded resolution:
    mixed-resolution columns (compact covers) must ring correctly per row."""
    from pyspark.sql import functions as F

    from aira_spark.functions.cells import k_ring, np_cell_from_xy, np_k_ring

    cells = [int(np_cell_from_xy(10.0, 20.0, r)) for r in (5, 7, 9)]
    df = spark.createDataFrame([(c,) for c in cells], "cell long")
    got = {
        r.cell: sorted(r.ring)
        for r in df.select("cell", k_ring(F.col("cell"), 1).alias("ring")).collect()
    }
    for c in cells:
        assert got[c] == sorted(int(x) for x in np_k_ring(c, 1)), f"cell {c}"


def test_histogram_family_dead_letters_out_of_domain(spark):
    """A signed raster (negative band values) must DROP from the histogram
    family instead of crashing the task with np.bincount's ValueError."""
    import numpy as np

    from aira_spark.operators.zonal import band_histogram, zonal_quantiles
    from aira_spark.tiff.encode import write_tiff

    neg = (np.arange(64, dtype=np.int64).reshape(8, 8, 1) - 32).astype(np.int16)
    pos = np.abs(np.arange(64, dtype=np.int64).reshape(8, 8, 1)).astype(np.uint8)
    rows = [
        ("bad", bytearray(write_tiff(neg))),
        ("good", bytearray(write_tiff(pos))),
    ]
    images = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = band_histogram(images).select("image_id").distinct().collect()
    assert {r.image_id for r in got} == {"good"}
    # zonal path: no geotransform here, so rows drop at the groups stage —
    # the point is simply that nothing raises
    assert zonal_quantiles(images).count() >= 0


# ------------------------------------------------- fourth review batch pins


def test_cos_arrow_nan_element_yields_null(spark):
    """A NULL/NaN ELEMENT inside a vector must produce NULL cosine (like the
    SQL cosine() and the oracle) — np.rint(NaN).astype(int64) previously
    wrapped into int64 garbage and emitted a FINITE wrong cosine."""
    from pyspark.sql import functions as F

    from aira_spark.operators.similarity import cos_arrow, cosine

    df = spark.createDataFrame(
        [(1, [1.0, None, 0.5], [1.0, 2.0, 3.0]),
         (2, [1.0, 2.0, 0.5], [1.0, 2.0, 3.0])],
        "id long, a array<double>, b array<double>",
    )
    rows = {r.id: (r.c_np, r.c_sql) for r in df.select(
        "id",
        cos_arrow(F.col("a"), F.col("b")).alias("c_np"),
        cosine(F.col("a"), F.col("b")).alias("c_sql"),
    ).collect()}
    assert rows[1] == (None, None)
    assert rows[2][0] is not None and rows[2][0] == rows[2][1]


def test_lsh_and_ivf_survive_null_embeddings(spark):
    """One NULL-embedding row must dead-letter (no buckets / no assignment),
    not crash np.vstack and kill the job."""
    import numpy as np

    from aira_spark.operators.similarity import (
        ivf_assign,
        lsh_signatures,
    )

    rows = [(1, [float(i % 7) for i in range(64)]),
            (2, None),
            (3, [float(i % 5) for i in range(64)])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sigs = lsh_signatures(emb, n_planes=4, n_tables=2)
    assert {r.vec_id for r in sigs.select("vec_id").distinct().collect()} == {1, 3}
    cents = np.eye(4, 64)
    got = ivf_assign(emb, cents)
    assert {r.vec_id for r in got.collect()} == {1, 3}


def test_hamming_pairs_accepts_zero_budget(spark):
    """max_hamming=0 with 64-bit hashes (exact-duplicate banding) previously
    failed at plan build: the single-band all-ones mask overflowed LongType."""
    from aira_spark.operators.dedup import hamming_dup_pairs

    rows = [(1, -12345), (2, -12345), (3, 777)]
    t = spark.createDataFrame(rows, "id long, h long")
    got = hamming_dup_pairs(t, id_col="id", hash_col="h", max_hamming=0, n_bits=64)
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    assert pairs == {(1, 2)}


def test_ngram_guard_ignores_null_key_blocks(spark):
    """An oversized NULL (lang, source) block must not trip the quadratic
    guard: the equi-join drops NULL keys, so the block costs nothing."""
    from aira_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(i, None, "s", "common text words here") for i in range(20)]
    rows += [(100, "en", "s", "alpha beta gamma delta"),
             (101, "en", "s", "alpha beta gamma delta")]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    got = ngram_jaccard_pairs(docs, k=3, threshold=0.5, max_block=10)
    pairs = {(r.doc_a, r.doc_b) for r in got.collect()}
    assert pairs == {(100, 101)}


# -------------------------------------------------- fifth review batch pins


def test_ngram_jaccard_empty_shingles_no_nan_pair(spark):
    """Two sub-k-word docs share no shingles: 0/0 previously produced NaN,
    which Spark ranks above every double, so `NaN >= threshold` emitted a
    bogus duplicate pair (the DuckDB oracle says NULL and drops it)."""
    from aira_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(1, "en", "web", "hi"), (2, "en", "web", "ok"),
            (3, "en", "web", "alpha beta gamma delta"),
            (4, "en", "web", "alpha beta gamma delta")]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    pairs = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, k=3, threshold=0.3).collect()}
    assert pairs == {(3, 4)}


def test_bpe_and_fingerprints_survive_null_text(spark):
    """NULL text: 0 BPE tokens (the oracle's COALESCE path) and a NULL
    fingerprint row — not an AttributeError killing the Arrow task."""
    from aira_spark.operators.bpe import encode_token_counts
    from aira_spark.operators.text import doc_fingerprints

    docs = spark.createDataFrame(
        [(1, "hello world hello"), (2, None)], "doc_id long, text string"
    )
    counts = {r.doc_id: r.n_bpe_tokens for r in encode_token_counts(docs, []).collect()}
    assert counts[2] == 0 and counts[1] > 0
    fps = doc_fingerprints(docs)
    assert {r.doc_id for r in fps.select("doc_id").distinct().collect()} == {1}


def test_bpe_word_regex_rejects_line_terminators(spark):
    """'abc\\n' must not count as a word in ANY engine: Java's $ matches
    before a trailing newline, so the Spark training pass previously
    counted words the Python encode pass (and the RE2 oracle) rejected."""
    from aira_spark.operators.bpe import word_frequencies

    docs = spark.createDataFrame(
        [(1, "good bad\nworse good")], "doc_id long, text string"
    )
    words = {r.word for r in word_frequencies(docs).collect()}
    assert words == {"good"}  # 'bad\nworse' fails; both 'good's count
