"""Statistical language-model document scoring (the CCNet/KenLM-style
quality gate) in exact integer arithmetic.

CCNet ranks web documents by n-gram LM perplexity and keeps the
low-perplexity tercile. A perplexity needs log-probabilities — libm
territory, banned from checked projections (SURVEY §8 palette). This
operator scores with the SAME ranking signal log-free: the per-bigram
conditional probability cnt(w1 w2) / cnt(w1 ·) in integer PPM
(floor(1e6 * num / den)), summed and floor-averaged per document. A
document full of common transitions scores high; rare/garbled transitions
score low — monotone in the same evidence perplexity uses, and every
intermediate is a BIGINT both engines reproduce bit-for-bit.

Scale shape: training is ONE explode + hash agg over adjacent word pairs
(map-side combine; the exchange carries bigram-vocabulary rows, zipf-
bounded like every n-gram table). Real LM tables are pruned: `max_bigrams`
keeps the top-K by (count DESC, bigram ASC) — deterministic — and scoring
treats pruned/unseen bigrams as 0 ppm (the OOV floor). Scoring itself is
an equi-join of the documents' bigram rows against the LM table — at
10^12 docs the LM side is the small one and broadcasts. Adjacent pairs
are built with pure JVM array expressions (arrays_zip over shifted
slices): no Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the qualifying-word predicate, with each engine's absolute end-of-text
# anchor: Java's $ would also accept 'abc\n', DuckDB's RE2 $ does not
from .bpe import WORD_RE, WORD_RE_JAVA

PPM = 1_000_000

def _bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) per adjacent pair of qualifying words, via pure JVM
    array expressions. A pair with a non-qualifying member is dropped (not
    re-bridged): a transition the LM never saw is not a transition."""
    ws = docs.selectExpr("doc_id", "split(text, ' ') AS ws").where(
        "size(ws) > 1"
    )
    z = ws.selectExpr(
        "doc_id",
        "explode(arrays_zip(slice(ws, 1, size(ws) - 1), "
        "slice(ws, 2, size(ws) - 1))) AS z",
    ).selectExpr("doc_id", "z['0'] AS w1", "z['1'] AS w2")
    return z.where(F.col("w1").rlike(WORD_RE_JAVA) & F.col("w2").rlike(WORD_RE_JAVA))


def train_bigram_lm(docs: DataFrame, max_bigrams: int | None = None) -> DataFrame:
    """(w1, w2, cnt, prefix_cnt, ppm): the bigram LM table. prefix_cnt is
    the corpus-wide count of bigrams starting with w1 (computed BEFORE any
    pruning, so pruning never inflates probabilities); ppm is the integer
    conditional probability floor(1e6 * cnt / prefix_cnt)."""
    bg = _bigrams(docs).groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("cnt")
    )
    if max_bigrams is not None:
        from pyspark.sql.window import Window

        # prefix counts over the FULL table, then deterministic top-K
        pre = bg.groupBy("w1").agg(F.sum("cnt").cast("long").alias("prefix_cnt"))
        w = Window.orderBy(F.col("cnt").desc(), "w1", "w2")
        bg = (
            bg.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= max_bigrams)
            .drop("_r")
            .join(F.broadcast(pre), "w1")
        )
    else:
        pre = bg.groupBy("w1").agg(F.sum("cnt").cast("long").alias("prefix_cnt"))
        bg = bg.join(pre, "w1")
    return bg.selectExpr(
        "w1", "w2", "cnt", "prefix_cnt",
        f"CAST({PPM} AS BIGINT) * cnt div prefix_cnt AS ppm",
    )


def lm_scores(docs: DataFrame, lm: DataFrame | None = None) -> DataFrame:
    """(doc_id, n_bigrams, sum_ppm, mean_ppm): integer LM quality score per
    document. Docs with no qualifying bigram score (0, 0, 0) — emitted, not
    dropped (a gate must see every document). Unseen/pruned bigrams
    contribute 0 ppm via the left join."""
    if lm is None:
        lm = train_bigram_lm(docs)
    per_doc = (
        _bigrams(docs)
        .join(F.broadcast(lm.select("w1", "w2", "ppm")), ["w1", "w2"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(F.coalesce(F.col("ppm"), F.lit(0))).cast("long").alias("sum_ppm"),
        )
        .selectExpr(
            "doc_id", "n_bigrams", "sum_ppm",
            "sum_ppm div n_bigrams AS mean_ppm",
        )
    )
    return (
        docs.select("doc_id").distinct()
        .join(per_doc, "doc_id", "left")
        .fillna(0, subset=["n_bigrams", "sum_ppm", "mean_ppm"])
        .selectExpr(
            "CAST(doc_id AS BIGINT) AS doc_id",
            "CAST(n_bigrams AS BIGINT) AS n_bigrams",
            "CAST(sum_ppm AS BIGINT) AS sum_ppm",
            "CAST(mean_ppm AS BIGINT) AS mean_ppm",
        )
    )


def oracle_lm_sql(table: str = "documents") -> str:
    """DuckDB mirror: same bigram extraction (list_zip over shifted list
    slices), same integer PPM formula, same left-join OOV floor."""
    return f"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM {table}
),
bg AS (
  SELECT doc_id, z[1] AS w1, z[2] AS w2
  FROM (
    SELECT doc_id, unnest(list_zip(w[1:len(w) - 1], w[2:len(w)])) AS z
    FROM ws WHERE len(w) > 1
  )
  WHERE regexp_matches(z[1], '{WORD_RE}') AND regexp_matches(z[2], '{WORD_RE}')
),
lm AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY 1, 2
),
pre AS (
  SELECT w1, CAST(SUM(cnt) AS BIGINT) AS prefix_cnt FROM lm GROUP BY 1
),
lmp AS (
  SELECT lm.w1, lm.w2,
         CAST({PPM} AS BIGINT) * lm.cnt // pre.prefix_cnt AS ppm
  FROM lm JOIN pre USING (w1)
),
scored AS (
  SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(COALESCE(lmp.ppm, 0)) AS BIGINT) AS sum_ppm
  FROM bg LEFT JOIN lmp ON bg.w1 = lmp.w1 AND bg.w2 = lmp.w2
  GROUP BY bg.doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       COALESCE(s.n_bigrams, 0) AS n_bigrams,
       COALESCE(s.sum_ppm, 0) AS sum_ppm,
       COALESCE(s.sum_ppm // s.n_bigrams, 0) AS mean_ppm
FROM (SELECT DISTINCT doc_id FROM {table}) d
LEFT JOIN scored s ON d.doc_id = s.doc_id
"""
