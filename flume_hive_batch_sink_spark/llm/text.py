"""2.I — Text analysis for training-data pipelines.

Language ID, quality scoring, token counting, TF-IDF, bigrams,
fingerprinting, and the C4-style corpus-cleaning composite. Everything is
codegen'd expression work over one explode of the token array — no
Python in the hot path; per-token state never leaves the executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flume_hive_batch_sink_spark.io import load
from flume_hive_batch_sink_spark.llm.ngrams import word_ngrams
from flume_hive_batch_sink_spark.registry import query


@query(
    "llm_text_stats",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           ROUND(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
           count(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg(F.size(F.split("text", " "))), 4).alias("avg_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "llm_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split_regex(text, '\s+')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS INT)
             AS word_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
             AS INT) AS bpe_ish_tokens
    FROM documents
    """,
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, word-regex, and a
    BPE-ish segmentation (letter runs / digit runs / single symbols) —
    the cheap pre-tokenizer estimate used for corpus budgeting."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", r"\s+")).alias("ws_tokens"),
        F.regexp_count("text", F.lit(r"[A-Za-z0-9]+")).cast("int").alias("word_tokens"),
        F.regexp_count("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"))
        .cast("int")
        .alias("bpe_ish_tokens"),
    )


# Deterministic n-gram-style heuristic: stopword hit-rates per language.
# The fixture's text is synthetic ASCII word-soup for every lang label, so
# charset detection is vacuous; the *structure* (per-language marker sets,
# argmax with a deterministic tiebreak) is the real operator.
_MARKERS = {
    "en": ("the", "a", "data"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
    "zh": ("zh", "chinese", "han"),
}


def _marker_hits(lang: str) -> F.Column:
    toks = F.split("text", " ")
    hit = None
    for m in _MARKERS[lang]:
        h = F.array_contains(toks, m).cast("int")
        hit = h if hit is None else hit + h
    return hit


def _marker_hits_sql(lang: str) -> str:
    return " + ".join(
        f"CAST(list_contains(string_split(text,' '), '{m}') AS INT)"
        for m in _MARKERS[lang]
    )


_LANG_ID_ORACLE = f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_marker_hits_sql('en')} AS s_en,
             {_marker_hits_sql('es')} AS s_es,
             {_marker_hits_sql('de')} AS s_de,
             {_marker_hits_sql('fr')} AS s_fr,
             {_marker_hits_sql('zh')} AS s_zh
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
                     AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS pred_lang,
           CAST((CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
                     AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END) = lang AS BOOLEAN) AS agrees
    FROM scored
"""


@query("llm_lang_id", oracle=_LANG_ID_ORACLE)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID with a fixed-priority argmax."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        _marker_hits("en").alias("s_en"),
        _marker_hits("es").alias("s_es"),
        _marker_hits("de").alias("s_de"),
        _marker_hits("fr").alias("s_fr"),
        _marker_hits("zh").alias("s_zh"),
    )
    pred = (
        F.when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") >= F.col("s_zh")),
            "en",
        )
        .when(
            (F.col("s_es") >= F.col("s_de"))
            & (F.col("s_es") >= F.col("s_fr"))
            & (F.col("s_es") >= F.col("s_zh")),
            "es",
        )
        .when((F.col("s_de") >= F.col("s_fr")) & (F.col("s_de") >= F.col("s_zh")), "de")
        .when(F.col("s_fr") >= F.col("s_zh"), "fr")
        .otherwise("zh")
    )
    return scored.select(
        "doc_id",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("agrees"),
    )


@query(
    "llm_quality_score",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           ROUND(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
                 / n_chars, 6) AS punct_ratio,
           ROUND(CAST(len(list_filter(string_split(text, ' '),
                        t -> list_contains(['the','a','of','and','data'], t)))
                   AS DOUBLE) / len(string_split(text, ' ')), 6)
             AS stopword_ratio,
           CAST(n_chars BETWEEN 50 AND 5000 AS BOOLEAN) AS length_ok
    FROM documents
    """,
)
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: length, punctuation density, stopword ratio —
    the standard cheap filters before expensive dedup/training steps."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_lit = F.array(*[F.lit(s) for s in ["the", "a", "of", "and", "data"]])
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(
            F.regexp_count("text", F.lit(r"[^A-Za-z0-9\s]")).cast("double")
            / F.col("n_chars"),
            6,
        ).alias("punct_ratio"),
        F.round(
            F.size(F.filter(toks, lambda t: F.array_contains(stop_lit, t))).cast(
                "double"
            )
            / F.size(toks),
            6,
        ).alias("stopword_ratio"),
        F.col("n_chars").between(50, 5000).alias("length_ok"),
    )


@query(
    "llm_tfidf_topterms",
    oracle="""
    WITH tf AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tfc AS (
      SELECT doc_id, token, count(*) AS tf FROM tf GROUP BY doc_id, token
    ), df AS (
      SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, token,
           ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf,
           CAST(rn AS BIGINT) AS rank
    FROM (
      SELECT tfc.doc_id, tfc.token,
             tfc.tf, df.df, n.n_docs,
             row_number() OVER (
               PARTITION BY tfc.doc_id
               ORDER BY tfc.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) DESC,
                        tfc.token) AS rn
      FROM tfc JOIN df USING (token) CROSS JOIN n
    ) WHERE rn <= 3
    """,
)
def llm_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. tf and df are two hash-aggs over
    one explode; idf joins back via broadcast (df table is vocabulary-
    sized, tiny next to the corpus)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tfc = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()
    tfidf = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(tfidf.desc(), F.col("token"))
    return (
        tfc.join(F.broadcast(df), "token")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "doc_id",
            "token",
            F.round(tfidf, 6).alias("tfidf"),
            F.col("rn").cast("long").alias("rank"),
        )
    )


@query(
    "llm_ngram_bigrams",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT unnest(list_transform(range(1, len(t)),
                    j -> t[j] || ' ' || t[j + 1])) AS bigram
      FROM toks
    ), counted AS (
      SELECT bigram, count(*) AS n FROM bg GROUP BY bigram
    )
    SELECT bigram, n, CAST(rn AS BIGINT) AS rank FROM (
      SELECT bigram, n, row_number() OVER (ORDER BY n DESC, bigram) AS rn
      FROM counted
    ) WHERE rn <= 20
    """,
)
def llm_ngram_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 bigrams. Bigrams are built by array slicing inside
    the row (no positional self-join, ngrams.word_ngrams), then one
    explode + hash-agg."""
    d = load(spark, sf_dir, "documents")
    bigrams = word_ngrams(F.split("text", " "), 2)
    counted = (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("bigram"))
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("bigram", "n", F.col("rn").cast("long").alias("rank"))
    )


@query(
    "llm_fingerprint",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    SELECT doc_id,
           list_min(list_transform(range(1, len(t) - 1),
                    j -> md5(t[j] || ' ' || t[j + 1] || ' ' || t[j + 2])))
             AS fingerprint
    FROM toks
    """,
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: min md5 over 3-token shingles
    (winnowing with one global window). Pure array expressions — the
    shingle set never materializes as rows. A doc of fewer than 3 words
    has no shingle and a NULL fingerprint, as in the oracle."""
    d = load(spark, sf_dir, "documents")
    fp = F.array_min(F.transform(word_ngrams(F.split("text", " "), 3), F.md5))
    return d.select("doc_id", fp.alias("fingerprint"))


@query(
    "llm_lang_filter_pipeline",
    oracle="""
    WITH filtered AS (
      SELECT * FROM documents
      WHERE lang = 'en' AND n_chars BETWEEN 100 AND 2000
    ), dedup AS (
      SELECT min(doc_id) AS doc_id, md5(lower(trim(text))) AS h,
             min(source) AS source, min(n_chars) AS n_chars
      FROM filtered GROUP BY md5(lower(trim(text)))
    )
    SELECT source, count(*) AS n_docs, ROUND(avg(n_chars), 4) AS avg_chars
    FROM dedup GROUP BY source
    """,
)
def llm_lang_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus cleaning composite: language filter → length
    filter → exact dedup (keep lowest doc_id) → per-source stats.
    Filters push into the scan; dedup is one hash-agg."""
    d = load(spark, sf_dir, "documents")
    filtered = d.filter(
        (F.col("lang") == "en") & F.col("n_chars").between(100, 2000)
    )
    dedup = filtered.groupBy(F.md5(F.lower(F.trim("text"))).alias("h")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("source").alias("source"),
        F.min("n_chars").alias("n_chars"),
    )
    return dedup.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# BPE-style pair-merge training (word-level)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 4

# Token-stream encoding for exact cross-engine merge semantics: the doc
# is '|tok||tok||tok|', so the pair (w1, w2) is the literal substring
# '|w1||w2|' and replace() applies merges non-overlapping left-to-right
# — exactly BPE's greedy application order — with no shared-delimiter
# ambiguity ('a b a b' merges both occurrences; 'a a a' merges once).
def _bpe_oracle() -> str:
    parts = [
        """
    WITH s0 AS (
      SELECT doc_id, '|' || replace(text, ' ', '||') || '|' AS s
      FROM documents
    )"""
    ]
    for r in range(_BPE_ROUNDS):
        parts.append(f"""
    , p{r} AS (
      SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2 FROM (
        SELECT t, unnest(range(1, len(t))) AS i FROM (
          SELECT string_split(substr(s, 2, length(s) - 2), '||') AS t
          FROM s{r}))
    ), b{r} AS (
      SELECT w1, w2 FROM p{r}
      GROUP BY w1, w2 ORDER BY count(*) DESC, w1, w2 LIMIT 1
    ), s{r + 1} AS (
      -- COALESCE: an empty b{r} (merges exhausted) makes the scalar
      -- subqueries NULL and replace() NULL out the state; carry the
      -- state forward unchanged instead, matching the engine's break
      SELECT doc_id,
             COALESCE(replace(s,
               '|' || (SELECT w1 FROM b{r}) || '||'
                   || (SELECT w2 FROM b{r}) || '|',
               '|' || (SELECT w1 FROM b{r}) || '_'
                   || (SELECT w2 FROM b{r}) || '|'), s) AS s
      FROM s{r}
    )""")
    parts.append(f"""
    , tok AS (
      SELECT unnest(string_split(substr(s, 2, length(s) - 2), '||')) AS token
      FROM s{_BPE_ROUNDS}
    ), cnt AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token
    ), top AS (
      SELECT 'top' AS part, rk, token, cnt FROM (
        SELECT *, row_number() OVER (ORDER BY cnt DESC, token) AS rk
        FROM cnt) WHERE rk <= 20
    ), merged AS (
      SELECT 'merged' AS part,
             row_number() OVER (ORDER BY cnt DESC, token) AS rk, token, cnt
      FROM cnt WHERE token LIKE '%\\_%' ESCAPE '\\'
    )
    SELECT * FROM top UNION ALL SELECT * FROM merged
    """)
    return "".join(parts)


@query("llm_bpe_merges", oracle=_bpe_oracle())
def llm_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE-style tokenizer training, word-pair level: 4
    merge rounds, each = count all adjacent token pairs across the
    corpus (one map-side-combined hash agg), pick the most frequent
    pair (deterministic lexicographic tiebreak), and apply the merge
    corpus-wide as a single literal string replace — merged tokens
    participate in later rounds, so merges cascade exactly like BPE.
    Output: final top-20 vocabulary + every merge-created token, with
    counts.

    The 100 TB shape of tokenizer training: per round, ONLY (pair,
    partial-count) rows shuffle — the corpus itself never moves, and
    the merge application is a map-only pass. The per-round driver
    pull is one 2-string row (the argmax pair — the scalar-certificate
    convention), so rounds serialize on a tiny barrier, not data. Real
    BPE does ~30k rounds at char level with an in-memory delta
    structure; the 4-round word-level form here exercises the same
    distributed dataflow with an exactly-replayable oracle (the
    pair-encoded '|w1||w2|' string makes greedy non-overlapping merge
    order identical in both engines)."""
    d = load(spark, sf_dir, "documents")
    state = d.select(
        "doc_id",
        F.concat(
            F.lit("|"), F.replace(F.col("text"), F.lit(" "), F.lit("||")), F.lit("|")
        ).alias("s"),
    )
    for _ in range(_BPE_ROUNDS):
        toks = state.select(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), "\\|\\|").alias("t")
        )
        pairs = toks.select(
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.size("t") - 1),
                    F.slice("t", 2, F.size("t") - 1),
                )
            ).alias("p")
        ).select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        rows = (
            pairs.groupBy("w1", "w2")
            .count()
            .orderBy(F.col("count").desc(), "w1", "w2")
            .limit(1)
            .collect()
        )
        if not rows:
            # merges exhausted (every doc a single token): no-op the
            # remaining rounds, the fixed point the oracle's COALESCE
            # keeps
            break
        best = rows[0]
        pat = f"|{best.w1}||{best.w2}|"
        rep = f"|{best.w1}_{best.w2}|"
        state = state.withColumn(
            "s", F.replace(F.col("s"), F.lit(pat), F.lit(rep))
        )
    cnt = (
        state.select(
            F.explode(
                F.split(F.expr("substring(s, 2, length(s) - 2)"), "\\|\\|")
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    w_all = Window.orderBy(F.col("cnt").desc(), "token")
    top = (
        cnt.withColumn("rk", F.row_number().over(w_all))
        .filter(F.col("rk") <= 20)
        .select(F.lit("top").alias("part"), "rk", "token", "cnt")
    )
    merged_cnt = cnt.filter(F.col("token").contains("_"))
    w_m = Window.orderBy(F.col("cnt").desc(), "token")
    merged = merged_cnt.withColumn("rk", F.row_number().over(w_m)).select(
        F.lit("merged").alias("part"), "rk", "token", "cnt"
    )
    return top.unionByName(merged)


@query(
    "llm_unigram_logprob",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM words GROUP BY w
    ), tot AS (SELECT SUM(cnt) AS n FROM vocab
    ), scored AS (
      SELECT wd.doc_id,
             CAST(ROUND(-ln(CAST(v.cnt AS DOUBLE) / t.n), 9)
                  AS DECIMAL(20,9)) AS nll_term
      FROM words wd JOIN vocab v ON wd.w = v.w, tot t
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(ROUND(CAST(SUM(nll_term) AS DOUBLE) / count(*), 6)
                AS DOUBLE) AS avg_nll
    FROM scored GROUP BY doc_id
    """,
)
def llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the CCNet/KenLM quality-filter
    proxy: train a unigram LM on the corpus itself (one word-count hash
    agg), then score every document by its average negative
    log-likelihood. Low avg_nll = repetitive/common-word documents,
    high = rare-token noise; curation pipelines threshold both tails.
    Dataflow at 100 TB: vocabulary counting is map-side combinable;
    scoring re-joins tokens to the vocab on the word key (the vocab is
    Zipf-compact — broadcastable for most corpora, else a shuffle on
    the word key whose skew IS the Zipf head, mitigated by map-side
    combine since duplicate (doc, word) pairs pre-aggregate). Each
    -ln p term is rounded then DECIMAL-summed so per-doc totals are
    aggregation-order-free across engines."""
    d = load(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    vocab = words.groupBy("w").agg(F.count("*").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("n"))
    scored = (
        words.join(vocab, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(-F.log(F.col("cnt").cast("double") / F.col("n")), 9)
            .cast("decimal(20,9)")
            .alias("nll_term"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(
            F.sum("nll_term").cast("double") / F.count("*"), 6
        ).alias("avg_nll"),
    )


@query(
    "llm_bigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), big AS (
      SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
      FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)
    ), cb AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS nb FROM big GROUP BY w1, w2
    ), cu AS (
      SELECT w1, CAST(count(*) AS BIGINT) AS nu FROM big GROUP BY w1
    ), vocab AS (
      SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM (
        SELECT unnest(t) AS w FROM toks)
    ), scored AS (
      SELECT b.doc_id,
             CAST(ROUND(-ln((c.nb + 1.0) / (u.nu + vv.v)), 9)
                  AS DECIMAL(20,9)) AS nll_term
      FROM big b
      JOIN cb c ON b.w1 = c.w1 AND b.w2 = c.w2
      JOIN cu u ON b.w1 = u.w1, vocab vv
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(ROUND(CAST(SUM(nll_term) AS DOUBLE) / count(*), 6)
                AS DOUBLE) AS avg_nll2
    FROM scored GROUP BY doc_id
    """,
)
def llm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with add-one smoothing — one
    Markov order up from llm_unigram_logprob, the fluency-sensitive
    quality filter (word-salad text scores high NLL here even when its
    unigram mix looks natural): p(w2|w1) = (c(w1,w2)+1)/(c(w1)+V),
    per-doc average negative log-likelihood. Dataflow: bigram counting
    is a map-side-combinable hash agg (the model IS a DataFrame, never
    driver state); scoring re-joins each doc's bigrams to the model on
    the bigram key. Zipf skew on the hot-head bigrams is absorbed by
    map-side combine exactly as in the unigram scorer. -ln p terms
    round-then-DECIMAL so per-doc sums are aggregation-order-free."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    big = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, F.size("t") - 1),
                F.slice("t", 2, F.size("t") - 1),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
    cb = big.groupBy("w1", "w2").agg(F.count("*").alias("nb"))
    cu = big.groupBy("w1").agg(F.count("*").alias("nu"))
    vocab = toks.select(F.explode("t").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )
    scored = (
        big.join(cb, ["w1", "w2"])
        .join(cu, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                -F.log((F.col("nb") + F.lit(1.0)) / (F.col("nu") + F.col("v"))),
                9,
            ).cast("decimal(20,9)").alias("nll_term"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(
            F.sum("nll_term").cast("double") / F.count("*"), 6
        ).alias("avg_nll2"),
    )


@query(
    "llm_lexical_diversity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT w) AS BIGINT) AS n_types
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_types,
           CAST(ROUND(n_types / CAST(n_tokens AS DOUBLE), 6) AS DOUBLE)
             AS ttr,
           CAST(ROUND(n_types / sqrt(CAST(n_tokens AS DOUBLE)), 6)
                AS DOUBLE) AS root_ttr,
           CAST(ROUND(ln(CAST(n_types AS DOUBLE))
                      / ln(CAST(n_tokens AS DOUBLE)), 6) AS DOUBLE)
             AS herdan_c
    FROM per_doc WHERE n_tokens > 1
    """,
)
def llm_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity metrics per document — the vocabulary-richness
    quality signals (low TTR flags boilerplate and template spam that
    llm_repetition_score's n-gram lens can miss): type-token ratio,
    root TTR (Guiraud, length-corrected), and Herdan's C (log-log,
    the most length-stable of the three). One explode + one hash agg
    with a distinct count per doc — the distinct is per-GROUP so it
    partial-aggregates as a two-phase (doc, word) dedup, no global
    distinct. Ratios are exact-integer inputs to single IEEE ops,
    rounded at 6 — identical across engines."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("w").alias("n_types"),
    ).filter(F.col("n_tokens") > 1)
    nt = F.col("n_tokens").cast("double")
    ny = F.col("n_types").cast("double")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(ny / nt, 6).alias("ttr"),
        F.round(ny / F.sqrt(nt), 6).alias("root_ttr"),
        F.round(F.log(ny) / F.log(nt), 6).alias("herdan_c"),
    )


@query(
    "llm_winnowing_fingerprint",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(range(1, len(t) - 1),
                            j -> md5(t[j] || ' ' || t[j+1] || ' ' || t[j+2]))
               AS hs
      FROM toks WHERE len(t) >= 3
    ),
    sel AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= 4
                  THEN list_distinct(list_transform(range(1, len(hs) - 2),
                                     j -> list_min(hs[j:j+3])))
                  ELSE [list_min(hs)] END AS fps
      FROM h
    ),
    ex AS (SELECT doc_id, unnest(fps) AS fp FROM sel)
    SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS min_doc_id
    FROM ex GROUP BY fp HAVING count(*) >= 2
    """,
)
def llm_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03) — the local fingerprinting scheme behind MOSS: hash
    every k-gram (k=3 tokens), slide a window of w=4 consecutive
    hashes, and keep each window's minimum. Winnowing GUARANTEES any
    shared run of >= w+k-1 tokens between two documents shares at
    least one selected fingerprint — the recall property a single
    global-min fingerprint (llm_fingerprint) lacks. Emitted here as
    the plagiarism/boilerplate signal: fingerprints selected by >= 2
    documents, with doc counts.

    Plan shape: the k-gram hash array, the sliding-window min, and the
    per-doc distinct all happen INSIDE the row as array expressions —
    no per-shingle row explosion until the final (already winnowed,
    ~2/w density) fingerprint set, so the exploded relation is a
    fraction of the token count. One explode + one hash-agg with
    map-side combine; no joins, no windows. Short docs (fewer than w
    windows) degrade to their single minimum hash, per the paper's
    boundary rule. Deterministic: md5 on both engines, tie handling
    irrelevant because selection is by VALUE (distinct min set), not
    position."""
    d = load(spark, sf_dir, "documents")
    h = (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 3)
        .select(
            "doc_id", F.transform(word_ngrams(F.col("t"), 3), F.md5).alias("hs")
        )
    )
    fps = F.expr(
        "CASE WHEN size(hs) >= 4 THEN "
        "array_distinct(transform(sequence(1, size(hs) - 3), "
        "j -> array_min(slice(hs, j, 4)))) "
        "ELSE array(array_min(hs)) END"
    )
    ex = h.select("doc_id", F.explode(fps).alias("fp"))
    return (
        ex.groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") >= 2)
    )


@query(
    "llm_zipf_fit",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    freq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok
      WHERE token <> '' GROUP BY token
    ),
    ranked AS (
      SELECT token, n,
             row_number() OVER (ORDER BY n DESC, token) AS rk
      FROM freq
    ),
    top AS (SELECT * FROM ranked WHERE rk <= 200)
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           CAST(ROUND(regr_slope(ln(n), ln(rk)), 4) AS DOUBLE) AS zipf_slope,
           CAST(ROUND(regr_intercept(ln(n), ln(rk)), 4) AS DOUBLE)
             AS zipf_intercept,
           CAST(ROUND(regr_r2(ln(n), ln(rk)), 4) AS DOUBLE) AS r2
    FROM top
    """,
)
def llm_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    log-frequency against log-rank for the top 200 terms. Natural text
    sits near slope −1 with high R²; a corpus whose slope collapses
    toward 0 (flat frequencies) or whose R² craters is machine-
    generated, template-spammed, or wrongly tokenized — a one-row
    corpus-health certificate for a training-data pipeline.

    Plan: explode + hash-agg builds term frequencies (map-side
    combine), the top-200 selection is a bounded global top-k
    (TakeOrderedAndProject via row_number-then-filter on the
    aggregated vocabulary), and the regression is a single aggregate
    over 200 rows — regr_slope/intercept/r2 are one-pass co-moment
    aggregates on BOTH engines. Rank ties break on the token string so
    the fitted set is identical everywhere."""
    d = load(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), "token")
    top = freq.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 200
    )
    ln_n, ln_rk = F.log(F.col("n")), F.log(F.col("rk"))
    return top.agg(
        F.count("*").alias("n_terms"),
        F.round(F.regr_slope(ln_n, ln_rk), 4).alias("zipf_slope"),
        F.round(F.regr_intercept(ln_n, ln_rk), 4).alias("zipf_intercept"),
        F.round(F.regr_r2(ln_n, ln_rk), 4).alias("r2"),
    )


@query(
    "llm_ngram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    j -> t[j] || ' ' || t[j+1] || ' ' || t[j+2])) AS gram
      FROM toks WHERE len(t) >= 3
    ),
    first_seen AS (
      SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(ROUND(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                      / CAST(count(*) AS DOUBLE), 6) AS DOUBLE)
             AS novelty_rate
    FROM grams g JOIN first_seen f ON g.gram = f.gram
    GROUP BY g.doc_id
    """,
)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty decay: for each document (in doc_id ingestion
    order), the fraction of its distinct 3-gram shingles never seen in
    any EARLIER document. A corpus whose novelty curve collapses early
    is recycling content — the marginal-value signal behind "dedup
    before you scale" decisions, and the per-document complement of
    llm_source_overlap_matrix's source-level view.

    The "seen earlier" relation needs no ordered scan: a gram is novel
    in exactly the document that is its MINIMUM doc_id, so one
    grams→min(doc_id) aggregation plus a join back replaces any
    sequential pass — the trick that makes an inherently ordered-
    looking metric embarrassingly parallel. Plan: in-row shingle
    arrays, one explode + distinct, one min-aggregation, one join on
    the gram key (fan-out = 1 after the distinct), one per-doc
    rollup."""
    d = load(spark, sf_dir, "documents")
    grams = (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(word_ngrams(F.col("t"), 3)).alias("gram"),
        )
        .distinct()
    )
    first_seen = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    j = grams.join(first_seen, "gram")
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        novel.alias("n_novel"),
        F.round(novel / F.count("*").cast("double"), 6).alias(
            "novelty_rate"
        ),
    )


@query(
    "llm_bm25_topdocs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM toks GROUP BY doc_id
    ),
    avgl AS (SELECT CAST(SUM(len) AS DOUBLE) / count(*) AS avglen FROM dl),
    tf AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
      FROM toks WHERE w IN ('spark', 'join', 'window') GROUP BY 1, 2
    ),
    dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    idf AS (
      SELECT w, ln((n - df + 0.5) / (df + 0.5) + 1.0) AS idf FROM dfreq, nd
    ),
    scored AS (
      SELECT tf.doc_id,
             CAST(ROUND(idf.idf * (tf.tf * 2.2)
                        / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.len / avgl.avglen))),
                        9) AS DECIMAL(20,9)) AS term_score
      FROM tf JOIN idf ON tf.w = idf.w
      JOIN dl ON tf.doc_id = dl.doc_id, avgl
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           CAST(ROUND(CAST(SUM(term_score) AS DOUBLE), 6) AS DOUBLE) AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
    """,
)
def llm_bm25_topdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (Robertson-Spärck Jones, k1=1.2 b=0.75)
    for a fixed query ('spark join window') — the lexical-retrieval
    primitive a curation stack uses for query-relevance mining and
    contamination hunts (find the training docs a benchmark query
    would retrieve). Top-10 documents by score, doc_id tiebreak.

    Dataflow: the token stream feeds two aggregates — per-doc length
    (all tokens) and per-(doc, query-term) tf (the IN filter pushes
    into the scan side of the agg, so the tf branch only shuffles
    matching tokens). df/idf is a |query|-row LUT joined broadcast;
    avgdl is a 1-row broadcast; the ranked cut compiles to
    TakeOrderedAndProject (top-k heap per partition), never a global
    sort. Per-term scores are rounded to 9 dp then DECIMAL-summed
    (order-free, the llm_unigram_logprob convention) and the final
    ORDER BY ties on rounded score break by doc_id, so the cut line is
    bit-deterministic across engines."""
    d = load(spark, sf_dir, "documents")
    return bm25_topdocs(d, ("spark", "join", "window"), k=10)


def bm25_topdocs(
    docs: DataFrame,
    q_terms: tuple[str, ...],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Library form of the BM25 ranker: ``docs`` needs (doc_id, text);
    ``q_terms`` is the tokenized query. Returns the top-``k``
    (doc_id, n_terms, bm25) rows with a doc_id tiebreak. The registered
    key above is the fixture instantiation (fixed query, default
    k1/b); retrieval or contamination pipelines call this per query —
    for a query BATCH, union the per-query LUTs with a query_id column
    and rank per query instead of calling this in a loop."""
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("len"))
    avgl = dl.agg(
        (F.sum("len").cast("double") / F.count("*")).alias("avglen")
    )
    tf = (
        toks.filter(F.col("w").isin(*q_terms))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    nd = docs.agg(F.count("*").alias("n"))
    idf = dfreq.crossJoin(F.broadcast(nd)).select(
        "w",
        F.log(
            (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        ).alias("idf"),
    )
    scored = (
        tf.join(F.broadcast(idf), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgl))
        .select(
            "doc_id",
            F.round(
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * (F.col("len").cast("double") / F.col("avglen"))
                    )
                ),
                9,
            )
            .cast("decimal(20,9)")
            .alias("term_score"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms"),
            F.round(F.sum("term_score").cast("double"), 6).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(k)
    )
