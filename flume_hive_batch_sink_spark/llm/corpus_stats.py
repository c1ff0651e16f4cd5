"""Round-12 extension keys: corpus-statistics curation signals.

Two standard pre-training corpus analyses not yet in the registry:

- ``llm_char_entropy_filter`` — per-document character-level Shannon
  entropy, the classic gibberish/boilerplate screen (low entropy =
  repeated chars / encoding junk; used alongside the Gopher rules in
  llm/quality.py).
- ``llm_wimbd_topngrams`` — corpus-level most-frequent n-grams with
  counts, the WIMBD-style "What's In My Big Data?" (Elazar et al.
  2023, public) corpus audit that surfaces boilerplate and template
  contamination.

Registered registry-LAST (registry._TAIL_MODULES): new rounds append so
the driver-sampling rotation prefix of earlier rounds stays stable.

100 TB posture: entropy is per-document pure codegen — sort the char
array once and run-length-scan it with one aggregate() expression, so
the signal rides the corpus scan with ZERO shuffles (the llm/quality.py
pattern); per-run terms are 9-dp-rounded and DECIMAL-summed so the
entropy is aggregation-order-free across engines. The n-gram audit's
only shuffle carries (ngram, partial count) rows — vocabulary-sized,
map-side combined — and top-k is TakeOrdered (orderBy+limit), never a
global sort; the final rank window touches exactly k=50 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flume_hive_batch_sink_spark.io import load
from flume_hive_batch_sink_spark.llm.ngrams import word_ngrams
from flume_hive_batch_sink_spark.registry import query

# Keep-threshold in nats, calibrated on the fixture (word soup over a
# ~20-letter alphabet sits ≈2.8–3.0 nats; encoding junk and repeated-
# char runs fall well below). Compared on the 6-dp ROUNDED entropy in
# both engines so the flag can never straddle a ULP.
_ENTROPY_MIN = 2.9

_ENTROPY_ORACLE = f"""
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
    ), cc AS (
      SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2
    ), ent AS (
      SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_chars,
             SUM(CAST(ROUND(k * ln(k), 9) AS DECIMAL(28,9))) AS s
      FROM cc GROUP BY 1
    )
    SELECT doc_id, n_chars,
           CAST(ROUND(ln(n_chars) - CAST(s AS DOUBLE) / n_chars, 6)
                AS DOUBLE) AS char_entropy,
           ROUND(ln(n_chars) - CAST(s AS DOUBLE) / n_chars, 6)
             >= {_ENTROPY_MIN} AS keep
    FROM ent
"""


@query("llm_char_entropy_filter", oracle=_ENTROPY_ORACLE)
def llm_char_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (nats) with the
    keep/drop flag: H = ln n − (Σ k_i·ln k_i)/n over character counts.

    Zero-shuffle: the char array is sorted per document and the counts
    come from ONE aggregate() run-length scan (the llm_gopher_repetition
    technique) — no explode, no per-char groupBy, so the corpus never
    leaves its scan partitions. Each closed run contributes
    round(k·ln k, 9) accumulated in DECIMAL(28,9): the sum is exact and
    order-free, which is what makes the 6-dp entropy bit-identical to
    the oracle's per-(doc, char) groupBy regardless of either engine's
    aggregation order."""
    docs = load(spark, sf_dir, "documents")
    chars = F.array_sort(F.split("text", ""))
    n = F.size(chars)

    def _term(run):
        return F.when(run <= 1, F.lit(0.0)).otherwise(
            F.round(run.cast("double") * F.log(run.cast("double")), 9)
        )

    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("decimal(28,9)").alias("s"),
    )
    ent_sum = F.aggregate(
        chars,
        acc0,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            # run continues: nothing closes; else add the closed run's
            # term. The outer cast collapses decimal-addition precision
            # widening (28,9 + 28,9 → 29,9) back to the accumulator
            # type, which aggregate()'s merge lambda must preserve.
            F.when(x == acc.prev, acc.s)
            .otherwise(acc.s + _term(acc.run).cast("decimal(28,9)"))
            .cast("decimal(28,9)")
            .alias("s"),
        ),
        lambda acc: acc.s + _term(acc.run).cast("decimal(28,9)"),
    )
    entropy = F.round(
        F.log(n.cast("double")) - ent_sum.cast("double") / n, 6
    )
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_chars"),
        entropy.cast("double").alias("char_entropy"),
        (entropy >= F.lit(_ENTROPY_MIN)).alias("keep"),
    )


_TOPK_NGRAMS = 50

_WIMBD_ORACLE = f"""
    WITH tri AS (
      SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS ngram
      FROM (SELECT string_split(text, ' ') AS t FROM documents),
           LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) ix
    ), cnt AS (
      SELECT ngram, CAST(count(*) AS BIGINT) AS n FROM tri GROUP BY ngram
    )
    SELECT ngram, n,
           CAST(row_number() OVER (ORDER BY n DESC, ngram) AS BIGINT)
             AS rank
    FROM cnt ORDER BY n DESC, ngram LIMIT {_TOPK_NGRAMS}
"""


@query("llm_wimbd_topngrams", oracle=_WIMBD_ORACLE)
def llm_wimbd_topngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIMBD-style corpus audit: the {k} most frequent word trigrams
    with occurrence counts and rank — the standard first look at what
    boilerplate/templates dominate a crawl before training on it.

    Plan shape: trigrams are built per document as an array expression
    (no self-joins), exploded, and hash-aggregated with map-side
    combine — the shuffle carries one row per DISTINCT trigram, not per
    occurrence. Top-k is orderBy+limit (TakeOrdered on partial top-ks,
    never a global sort); the row_number window ranks exactly the k
    surviving rows, so the single-partition window touches 50 rows at
    any corpus size."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    tri = word_ngrams(F.split("text", " "), 3)
    cnt = (
        docs.select(F.explode(tri).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n"))
    )
    top = cnt.orderBy(F.col("n").desc(), "ngram").limit(_TOPK_NGRAMS)
    return top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), "ngram"))
        .cast("long"),
    )
