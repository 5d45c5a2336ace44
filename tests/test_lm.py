"""Bigram-LM quality scorer tests: hand-computed PPM scores, OOV floor,
deterministic pruning, adjacency-break semantics, every-doc emission."""

from __future__ import annotations

from aira_spark.operators.lm import PPM, lm_scores, train_bigram_lm


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_hand_computed_ppm(spark):
    # corpus bigrams: (a,b) x2, (a,c) x1, (b,a) x1  (doc1 contributes b a c? no:
    # doc0 = 'a b a c' -> (a,b), (b,a), (a,c); doc1 = 'a b' -> (a,b)
    docs = _docs(spark, ["a b a c", "a b"])
    lm = {(r["w1"], r["w2"]): (r["cnt"], r["prefix_cnt"], r["ppm"])
          for r in train_bigram_lm(docs).collect()}
    # prefix a: (a,b)=2, (a,c)=1 -> 3; prefix b: (b,a)=1
    assert lm[("a", "b")] == (2, 3, PPM * 2 // 3)
    assert lm[("a", "c")] == (1, 3, PPM // 3)
    assert lm[("b", "a")] == (1, 1, PPM)
    got = {r["doc_id"]: (r["n_bigrams"], r["sum_ppm"], r["mean_ppm"])
           for r in lm_scores(docs).collect()}
    s0 = PPM * 2 // 3 + PPM + PPM // 3
    assert got[0] == (3, s0, s0 // 3)
    assert got[1] == (1, PPM * 2 // 3, PPM * 2 // 3)


def test_nonword_breaks_adjacency_and_empty_docs_emit(spark):
    # '9' disqualifies both pairs it touches; a doc with no pairs scores 0s
    docs = _docs(spark, ["a 9 b", "a"])
    got = {r["doc_id"]: (r["n_bigrams"], r["sum_ppm"], r["mean_ppm"])
           for r in lm_scores(docs).collect()}
    assert got[0] == (0, 0, 0)
    assert got[1] == (0, 0, 0)


def test_pruned_bigrams_score_zero(spark):
    # (a,b) x3 dominates; with max_bigrams=1 the (c,d) bigram prunes and
    # scores 0 ppm, while prefix counts stay pre-pruning
    docs = _docs(spark, ["a b", "a b", "a b", "c d"])
    lm = train_bigram_lm(docs, max_bigrams=1)
    rows = lm.collect()
    assert len(rows) == 1 and rows[0]["w1"] == "a"
    got = {r["doc_id"]: r["sum_ppm"] for r in lm_scores(docs, lm).collect()}
    assert got[3] == 0          # (c,d) pruned -> OOV floor
    assert got[0] == PPM        # (a,b): 3/3


def test_quality_signal_orders_garbled_below_natural(spark):
    # docs made of corpus-common transitions outscore a shuffled/garbled one
    base = ["the cat sat on the mat", "the cat ran on the mat",
            "the dog sat on the mat"]
    garbled = "mat the on cat the sat"
    got = {r["doc_id"]: r["mean_ppm"]
           for r in lm_scores(_docs(spark, base + [garbled])).collect()}
    assert min(got[i] for i in range(3)) > got[3]


def test_trailing_newline_word_does_not_qualify(spark):
    # Java's $ matches before a trailing '\n', RE2's (the DuckDB oracle) does
    # not: 'abc\n' must break adjacency on Spark exactly as in the oracle
    import duckdb

    from aira_spark.operators.lm import oracle_lm_sql

    texts = ["abc\n abc", "x abc\n y", "a b"]
    docs = _docs(spark, texts)
    lm = {(r["w1"], r["w2"]) for r in train_bigram_lm(docs).collect()}
    assert lm == {("a", "b")}
    got = sorted(tuple(r) for r in lm_scores(docs).collect())
    assert got == [(0, 0, 0, 0), (1, 0, 0, 0), (2, 1, PPM, PPM)]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(texts)))
    assert sorted(con.execute(oracle_lm_sql()).fetchall()) == got
