"""Round-11 extension keys: document-quality signals for corpus curation.

Gopher's quality heuristics (Rae et al. 2021, "Scaling Language Models:
Methods, Analysis & Insights from Training Gopher", Appendix A1.1 —
public paper) filter web documents by REPETITION: the fraction of the
document covered by its most frequent n-gram, and the fraction of
duplicated tokens. These are the standard pre-training curation signals
alongside the length/punctuation/stopword stats in llm/text.py
(llm_text_stats) — which cover Gopher's other rule family but not the
repetition rules.

Registered registry-LAST (registry._TAIL_MODULES): new rounds append so
the driver-sampling rotation prefix of earlier rounds stays stable.

100 TB posture: everything here is per-document and expression-level —
split → bigram zip_with → array_sort → aggregate() run-length scan, all
inside whole-stage codegen with ZERO shuffles and zero Python. Quality
flags ride along the initial corpus scan exactly like the MinHash
signatures (llm/dedup.py), so the filter costs one map pass regardless
of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flume_hive_batch_sink_spark.io import load
from flume_hive_batch_sink_spark.llm.ngrams import word_ngrams
from flume_hive_batch_sink_spark.registry import query

# Keep-thresholds, calibrated on the driver fixture so both classes are
# populated (word-soup docs over a ~31-word vocabulary repeat bigrams
# far more than natural text — the thresholds encode the same RULE as
# Gopher's 0.18/0.30 at this fixture's operating point).
_TOP_BIGRAM_MAX = 0.10
_DUP_TOKEN_MAX = 0.90

_GOPHER_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), base AS (
      SELECT doc_id, len(t) AS n_tokens,
             len(list_distinct(t)) AS n_distinct
      FROM toks
    ), bg AS (
      SELECT doc_id, t[i] || ' ' || t[i + 1] AS b
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) ix
    ), top AS (
      SELECT doc_id, max(c) AS top_bg FROM (
        SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2
      ) GROUP BY 1
    )
    SELECT base.doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(CAST(2 * COALESCE(top_bg, 0) AS DOUBLE) / n_tokens, 6)
             AS top_bigram_frac,
           ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 6)
             AS dup_token_frac,
           (CAST(2 * COALESCE(top_bg, 0) AS DOUBLE) / n_tokens
              <= {_TOP_BIGRAM_MAX}
            AND 1.0 - CAST(n_distinct AS DOUBLE) / n_tokens
              <= {_DUP_TOKEN_MAX}) AS keep
    FROM base LEFT JOIN top ON base.doc_id = top.doc_id
"""


@query("llm_gopher_repetition", oracle=_GOPHER_ORACLE)
def llm_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules per document: top-bigram coverage and
    duplicate-token fraction, with the keep/drop flag.

    ``top_bigram_frac`` = tokens covered by the single most frequent
    bigram (2 × its occurrence count / n_tokens) — the token-level
    analogue of Gopher's top-2-gram character fraction. The max
    occurrence count is found WITHOUT any per-ngram groupBy: bigrams →
    array_sort → one aggregate() run-length scan over the sorted array,
    a pure codegen expression, so the whole operator is one map pass
    (zero Exchange — plan-gated in tests/test_plans.py). The corpus-wide
    alternative (explode bigrams → groupBy(doc_id, bigram) → max) would
    shuffle |corpus| bigram rows; per-doc arrays make that cost zero at
    any scale.
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    bigrams = word_ngrams(toks, 2)
    # max run length in the sorted bigram array = max occurrence count
    top_bg = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    top_frac = (2 * top_bg).cast("double") / n
    dup_frac = F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(top_frac, 6).alias("top_bigram_frac"),
        F.round(dup_frac, 6).alias("dup_token_frac"),
        (
            (top_frac <= F.lit(_TOP_BIGRAM_MAX))
            & (dup_frac <= F.lit(_DUP_TOKEN_MAX))
        ).alias("keep"),
    )


_CCNET_ORACLE = """
    WITH words AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      FROM documents
    ), vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM words GROUP BY w
    ), tot AS (SELECT SUM(cnt) AS n FROM vocab
    ), scored AS (
      SELECT wd.doc_id, wd.lang,
             CAST(ROUND(-ln(CAST(v.cnt AS DOUBLE) / t.n), 9)
                  AS DECIMAL(20,9)) AS nll_term
      FROM words wd JOIN vocab v ON wd.w = v.w, tot t
    ), perdoc AS (
      SELECT doc_id, lang,
             CAST(ROUND(CAST(SUM(nll_term) AS DOUBLE) / count(*), 6)
                  AS DOUBLE) AS avg_nll
      FROM scored GROUP BY doc_id, lang
    ), grid AS (
      SELECT lang, avg_nll, CAST(count(*) AS BIGINT) AS c
      FROM perdoc GROUP BY lang, avg_nll
    ), gridcum AS (
      SELECT lang, avg_nll,
             SUM(c) OVER (PARTITION BY lang ORDER BY avg_nll) AS cum,
             SUM(c) OVER (PARTITION BY lang) AS nl
      FROM grid
    ), cuts AS (
      SELECT lang,
             MIN(CASE WHEN cum >= ceil(nl / 3.0) THEN avg_nll END) AS t1,
             MIN(CASE WHEN cum >= ceil(2 * nl / 3.0) THEN avg_nll END) AS t2
      FROM gridcum GROUP BY lang
    )
    SELECT p.doc_id, p.lang, p.avg_nll,
           CASE WHEN p.avg_nll <= c.t1 THEN 'head'
                WHEN p.avg_nll <= c.t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM perdoc p JOIN cuts c ON p.lang = c.lang
"""


@query("llm_ccnet_perplexity_bucket", oracle=_CCNET_ORACLE)
def llm_ccnet_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, public):
    score every document with a corpus-trained unigram LM (the
    llm_unigram_logprob recipe — per-term -ln p rounded to 9 dp and
    DECIMAL-summed so avg_nll is aggregation-order-free across engines),
    then split each LANGUAGE into head / middle / tail at the exact
    per-language NLL tertiles. CCNet keeps head+middle for pre-training;
    the bucket label is the standard quality stratum fed to samplers
    like llm_temperature_mix.

    Bucketing is threshold-comparison, not global ranking, and the
    cutoffs are ORDER-EXACT, not interpolated: per language the docs
    collapse to a compact (lang, avg_nll) → count grid (bounded by the
    distinct 6-dp NLL values, not by corpus size), a cumulative count
    over that grid finds the element at rank ⌈n/3⌉ / ⌈2n/3⌉
    (percentile_disc semantics), and those exact grid elements broadcast
    back onto the scored docs. Because t1/t2 are actual avg_nll values
    from the shared 6-dp grid — never a float interpolation — there is
    no ULP noise for a rounding boundary to amplify: both engines pick
    bit-identical cutoffs by rank arithmetic alone (the earlier
    quantile_cont+round(6) version could still flip a tied document's
    bucket when the two engines' interpolations straddled a 0.5e-6
    boundary). The rank window runs over the per-lang VALUE GRID, so no
    single-partition data-sized window exists; the assignment pass stays
    fully parallel at any corpus size (production CCNet computes the
    same thresholds from a sample; here they're exact so the oracle can
    reproduce them)."""
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    vocab = words.groupBy("w").agg(F.count("*").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("n"))
    perdoc = (
        words.join(vocab, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            F.round(-F.log(F.col("cnt").cast("double") / F.col("n")), 9)
            .cast("decimal(20,9)")
            .alias("nll_term"),
        )
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                F.sum("nll_term").cast("double") / F.count("*"), 6
            ).alias("avg_nll")
        )
    )
    from pyspark.sql.window import Window

    # order-exact tertile cutoffs: rank arithmetic over the compact
    # (lang, avg_nll) grid — the cutoff IS a grid element, so no
    # interpolation noise exists for the two engines to disagree on
    grid = perdoc.groupBy("lang", "avg_nll").agg(F.count("*").alias("c"))
    gridcum = grid.select(
        "lang",
        "avg_nll",
        F.sum("c").over(Window.partitionBy("lang").orderBy("avg_nll")).alias("cum"),
        F.sum("c").over(Window.partitionBy("lang")).alias("nl"),
    )
    cuts = gridcum.groupBy("lang").agg(
        F.min(
            F.when(F.col("cum") >= F.ceil(F.col("nl") / 3.0), F.col("avg_nll"))
        ).alias("t1"),
        F.min(
            F.when(F.col("cum") >= F.ceil(2 * F.col("nl") / 3.0), F.col("avg_nll"))
        ).alias("t2"),
    )
    return (
        perdoc.join(F.broadcast(cuts), "lang")
        .select(
            "doc_id",
            "lang",
            "avg_nll",
            F.when(F.col("avg_nll") <= F.col("t1"), F.lit("head"))
            .when(F.col("avg_nll") <= F.col("t2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )
