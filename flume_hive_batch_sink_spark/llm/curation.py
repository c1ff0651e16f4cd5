"""2.I — Corpus-curation operators for training-data pipelines.

The filters a production pretraining pipeline runs between raw crawl and
tokenizer: PII redaction, repetition scoring (Gopher-style quality
signal), benchmark decontamination (n-gram overlap against a held-out
eval set), and fixed-stride document chunking. All four are pure
codegen'd expression/join work — no Python in the hot path — and every
one is oracle-backed.

100 TB posture: per-doc signals are computed from array expressions
inside the row (no shuffle at all); the decontamination join broadcasts
the benchmark-gram set (the eval corpus is ~1% of training data by
construction, and only distinct gram hashes ship); chunking fan-out is
a generate-style explode whose output partitioning inherits the input's,
so downstream tokenization needs no extra shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flume_hive_batch_sink_spark.io import load
from flume_hive_batch_sink_spark.llm.ngrams import char_kgram_hashes, word_ngrams
from flume_hive_batch_sink_spark.registry import query

_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"
_DIGITS = r"[0-9]{4,}"


@query(
    "llm_pii_redact",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(text, '{_DIGITS}')) AS INT)
             AS n_digit_runs,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
                 '{_EMAIL}', '<EMAIL>', 'g'),
                 '{_PHONE}', '<PHONE>', 'g'),
                 '{_DIGITS}', '<NUM>', 'g')) AS redacted_hash
    FROM documents
    """,
)
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: replace email / phone / long-digit-run spans with
    typed placeholder tokens and count hits per class. Patterns are
    shared RE2/Java-regex-compatible literals so the oracle runs the
    byte-identical regexes. The redacted text itself is hashed in the
    result (full text would bloat the compare; the hash pins every byte
    of the rewrite)."""
    d = load(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL, "<EMAIL>"), _PHONE, "<PHONE>"
        ),
        _DIGITS,
        "<NUM>",
    )
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE)).cast("int").alias("n_phones"),
        F.regexp_count("text", F.lit(_DIGITS)).cast("int").alias("n_digit_runs"),
        F.md5(redacted).alias("redacted_hash"),
    )


@query(
    "llm_repetition_score",
    oracle="""
    WITH tf AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tfc AS (
      SELECT doc_id, token, count(*) AS cnt FROM tf GROUP BY doc_id, token
    ), tok_stats AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(MAX(cnt) AS BIGINT) AS max_tok
      FROM tfc GROUP BY doc_id
    ), bg AS (
      SELECT doc_id,
             list_transform(range(1, len(string_split(text, ' '))),
                            j -> string_split(text, ' ')[j] || ' ' ||
                                 string_split(text, ' ')[j + 1]) AS bigrams
      FROM documents
    )
    SELECT t.doc_id,
           ROUND(1.0 - CAST(t.n_distinct AS DOUBLE) / t.n_tokens, 6)
             AS dup_token_ratio,
           CASE WHEN len(b.bigrams) = 0 THEN 0.0
                ELSE ROUND(1.0 - CAST(len(list_distinct(b.bigrams)) AS DOUBLE)
                           / len(b.bigrams), 6) END AS dup_bigram_ratio,
           ROUND(CAST(t.max_tok AS DOUBLE) / t.n_tokens, 6) AS top_token_ratio
    FROM tok_stats t JOIN bg b ON t.doc_id = b.doc_id
    """,
)
def llm_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-token
    ratio, duplicate-bigram ratio, and most-frequent-token share. Token
    stats go through one explode + two hash-aggs (linear in corpus size,
    partitioned by doc_id); the bigram ratio stays an in-row array
    expression — no quadratic work anywhere, long docs cost O(tokens)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tok_stats = (
        tok.groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("cnt").alias("max_tok"),
        )
    )
    bigrams = word_ngrams(F.split("text", " "), 2)
    bg = d.select("doc_id", bigrams.alias("bigrams"))
    dup_bigram = F.when(F.size("bigrams") == 0, F.lit(0.0)).otherwise(
        F.round(
            1.0
            - F.size(F.array_distinct("bigrams")).cast("double")
            / F.size("bigrams"),
            6,
        )
    )
    return tok_stats.join(bg, "doc_id").select(
        "doc_id",
        F.round(
            1.0 - F.col("n_distinct").cast("double") / F.col("n_tokens"), 6
        ).alias("dup_token_ratio"),
        dup_bigram.alias("dup_bigram_ratio"),
        F.round(F.col("max_tok").cast("double") / F.col("n_tokens"), 6).alias(
            "top_token_ratio"
        ),
    )


# 5-token shingles; the "benchmark" eval set is the deterministic ~1%
# slice doc_id % 97 == 0 (no external fixture exists, and the slice rule
# is part of the operator contract so both engines agree byte-for-byte).
_DECON_ORACLE = """
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(t) - 3),
                    j -> md5(t[j] || ' ' || t[j+1] || ' ' || t[j+2] || ' ' ||
                             t[j+3] || ' ' || t[j+4]))) AS g
      FROM toks
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0)
    SELECT DISTINCT gr.doc_id, gr.source
    FROM grams gr JOIN bench b ON gr.g = b.g
    WHERE gr.doc_id % 97 <> 0
"""


@query("llm_decontaminate", oracle=_DECON_ORACLE)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    5-token shingle with the held-out eval slice (doc_id % 97 == 0).
    Both sides explode to md5'd shingles; the eval-gram set is DISTINCT
    and broadcast (eval corpora are orders of magnitude smaller than
    training data), so flagging is a broadcast semi join — the training
    side never shuffles. This is the standard pre-training hygiene step
    (e.g. GPT-3/PaLM style 13-gram overlap, scaled to the fixture's
    short docs)."""
    d = load(spark, sf_dir, "documents")
    shingles = F.transform(word_ngrams(F.split("text", " "), 5), F.md5)
    grams = d.select(
        "doc_id", "source", F.explode(shingles).alias("g")
    )
    bench = grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    return (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "g", "left_semi")
        .select("doc_id", "source")
        .distinct()
    )


@query(
    "llm_doc_chunk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    )
    SELECT doc_id,
           CAST((s - 1) / 40 AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(t, s, s + 49)) AS INT) AS n_tokens,
           md5(array_to_string(list_slice(t, s, s + 49), ' ')) AS chunk_hash
    FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1, 40)) AS s FROM toks)
    """,
)
def llm_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride chunking for context-window packing: 50-token chunks
    every 40 tokens (10-token overlap). Chunk starts come from an in-row
    sequence + explode — a generate-style fan-out that preserves the
    input partitioning, so the downstream tokenizer reads chunks where
    the docs already live. Chunk text is hashed in the result (the hash
    pins exact chunk boundaries and content)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    out = (
        d.select("doc_id", toks.alias("t"))
        .select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(1), F.size("t"), F.lit(40))).alias("s"),
        )
    )
    chunk = F.slice(F.col("t"), F.col("s"), 50)
    return out.select(
        "doc_id",
        ((F.col("s") - 1) / 40).cast("long").alias("chunk_idx"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


@query(
    "llm_pack_sequences",
    oracle="""
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(cum - len(string_split(text, ' ')) AS BIGINT) AS start_off,
           CAST(FLOOR(CAST(cum - len(string_split(text, ' ')) AS DOUBLE)
                      / 512) AS BIGINT) AS bin_id
    FROM (
      SELECT doc_id, lang, text,
             SUM(len(string_split(text, ' '))) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    )
    """,
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-slice sequence packing — how pretraining actually
    fills context windows: documents are laid end-to-end in a
    deterministic order and the token stream is cut every 512 tokens
    (docs may straddle a cut; each doc reports its stream offset and
    starting bin). One running-sum window per language shard — packing
    is embarrassingly parallel across shards, so the global-window
    bottleneck never appears: at 100 TB the shard key is (lang, shard_id
    from a hash) and every shard packs independently."""
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(n_tok).over(w)
    start = cum - n_tok
    return d.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tokens"),
        start.alias("start_off"),
        F.floor(start / 512).cast("long").alias("bin_id"),
    )


_PIPELINE_ORACLE = """
    WITH base AS (
      SELECT doc_id, lang, text
      FROM documents WHERE n_chars BETWEEN 50 AND 5000
    ), keepers AS (
      SELECT min(doc_id) AS doc_id
      FROM base GROUP BY md5(lower(trim(text)))
    ), clean AS (
      SELECT b.* FROM base b JOIN keepers k ON b.doc_id = k.doc_id
    ), bench_grams AS (
      SELECT DISTINCT
             unnest(list_transform(range(1, len(string_split(text, ' ')) - 3),
                    j -> md5(string_split(text,' ')[j] || ' ' ||
                             string_split(text,' ')[j+1] || ' ' ||
                             string_split(text,' ')[j+2] || ' ' ||
                             string_split(text,' ')[j+3] || ' ' ||
                             string_split(text,' ')[j+4]))) AS g
      FROM documents WHERE doc_id % 97 = 0
    ), flagged AS (
      SELECT DISTINCT c.doc_id
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(string_split(text,' ')) - 3),
                      j -> md5(string_split(text,' ')[j] || ' ' ||
                               string_split(text,' ')[j+1] || ' ' ||
                               string_split(text,' ')[j+2] || ' ' ||
                               string_split(text,' ')[j+3] || ' ' ||
                               string_split(text,' ')[j+4]))) AS g
        FROM clean WHERE doc_id % 97 <> 0
      ) c JOIN bench_grams b ON c.g = b.g
    ), final AS (
      SELECT cl.* FROM clean cl
      WHERE cl.doc_id % 97 <> 0
        AND NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = cl.doc_id)
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM final GROUP BY lang
"""


@query("llm_curation_pipeline", oracle=_PIPELINE_ORACLE)
def llm_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation chain as ONE declarative plan: length filter →
    exact dedup (keep min doc_id per content hash) → benchmark
    decontamination (drop the eval slice and anything sharing a 5-gram
    with it) → per-language token-budget audit. Catalyst sees the whole
    chain: the length filter pushes into the scan, the dedup is one
    hash-agg + semi join on the content key, the eval-gram set stays a
    broadcast semi join, and the final audit is a map-side-combined
    rollup. This is the composite the single-purpose operators exist
    for — at 100 TB it runs as ~4 shuffles of strictly-shrinking data."""
    d = load(spark, sf_dir, "documents")
    base = d.filter(F.col("n_chars").between(50, 5000)).select(
        "doc_id", "lang", "text"
    )
    keepers = base.groupBy(F.md5(F.lower(F.trim("text"))).alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    clean = base.join(keepers.select("doc_id"), "doc_id", "left_semi")

    shingles = F.transform(word_ngrams(F.split("text", " "), 5), F.md5)
    bench_grams = (
        d.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(shingles).alias("g"))
        .distinct()
    )
    train = clean.filter(F.col("doc_id") % 97 != 0)
    flagged = (
        train.select("doc_id", F.explode(shingles).alias("g"))
        .join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    final = train.join(flagged, "doc_id", "left_anti")
    return final.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("total_tokens"),
    )


@query(
    "llm_url_host_filter",
    oracle="""
    WITH u AS (
      SELECT doc_id, lang, source,
             'https://' || source || '.example.' ||
             CASE lang WHEN 'en' THEN 'com' WHEN 'de' THEN 'de'
                       WHEN 'fr' THEN 'fr' WHEN 'es' THEN 'es'
                       ELSE 'cn' END ||
             '/docs/' || doc_id || '?lang=' || lang AS url
      FROM documents
    ),
    parsed AS (
      SELECT doc_id,
             regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
             regexp_extract(url, '^https?://[^/?#]+(/[^?#]*)', 1) AS path,
             regexp_extract(url, '\\.([a-z]+)$',
                            1) AS _unused,
             regexp_extract(regexp_extract(url, '^https?://([^/?#]+)', 1),
                            '\\.([a-z]+)$', 1) AS tld
      FROM u
    )
    SELECT host, tld,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           tld NOT IN ('cn') AS allowed
    FROM parsed GROUP BY 1, 2
    """,
)
def llm_url_host_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL host/TLD extraction + allowlist filter — the first stage of
    every web-crawl curation pipeline (CommonCrawl-style host-level
    quality/blocklist decisions BEFORE any text is parsed). The fixture
    has no URL column, so a deterministic URL is synthesized from
    (source, lang, doc_id); the operator under test is the parsing:
    pure-regex host / path / TLD extraction (JVM regexp_extract, no
    UDF) aggregated to host granularity with an allowed flag.

    100 TB shape: host extraction is map-side codegen; the aggregation
    key space is hosts (millions, not documents — billions), so the
    shuffle is tiny; real blocklists join here as a broadcast dim."""
    docs = load(spark, sf_dir, "documents")
    tld_of = (
        F.when(F.col("lang") == "en", "com")
        .when(F.col("lang") == "de", "de")
        .when(F.col("lang") == "fr", "fr")
        .when(F.col("lang") == "es", "es")
        .otherwise("cn")
    )
    u = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example."), tld_of,
            F.lit("/docs/"), F.col("doc_id"), F.lit("?lang="), F.col("lang"),
        ).alias("url"),
    )
    host = F.regexp_extract("url", r"^https?://([^/?#]+)", 1)
    parsed = u.select(
        "doc_id",
        host.alias("host"),
        F.regexp_extract(host, r"\.([a-z]+)$", 1).alias("tld"),
    )
    return parsed.groupBy("host", "tld").agg(
        F.count("*").alias("n_docs"),
        (~F.col("tld").isin("cn")).alias("allowed"),
    )


_V2_ORACLE = """
    WITH allowed AS (
      SELECT doc_id, lang, source, text FROM documents
      WHERE CASE lang WHEN 'en' THEN 'com' WHEN 'de' THEN 'de'
                      WHEN 'fr' THEN 'fr' WHEN 'es' THEN 'es'
                      ELSE 'cn' END <> 'cn'
    ),
    keep AS (
      SELECT min(doc_id) AS doc_id
      FROM allowed GROUP BY md5(lower(trim(text)))
    ),
    clean AS (SELECT a.* FROM allowed a JOIN keep USING (doc_id)),
    g AS (
      SELECT doc_id, substr(text, p.p, 32) AS gram
      FROM clean,
           LATERAL (SELECT unnest(range(1, length(text) - 31 + 1)) AS p) p
      WHERE length(text) >= 32
    ),
    dupg AS (
      SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    nd AS (
      SELECT g.doc_id, COUNT(*) AS nd FROM g JOIN dupg USING (gram)
      GROUP BY g.doc_id
    ),
    dropped AS (
      SELECT c.doc_id
      FROM clean c JOIN nd ON nd.doc_id = c.doc_id
      WHERE nd.nd * 1.0 / (length(c.text) - 31) > 0.5
    ),
    final AS (
      SELECT * FROM clean
      WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM final GROUP BY source
"""


@query("llm_curation_pipeline_v2", oracle=_V2_ORACLE)
def llm_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 composite: the web-corpus curation chain built from this
    round's operators as ONE declarative plan — URL/TLD allowlist (the
    host-filter stage; synthesized TLD ≠ 'cn') → exact dedup (keep min
    doc_id per content hash) → duplicated-substring boilerplate filter
    (drop docs whose 32-gram duplicate fraction on the CLEANED corpus
    exceeds 0.5 — dedup runs first, so spans flag cross-document
    boilerplate, not whole-copy dups the previous stage already
    removed) → per-source document/token audit.

    Catalyst fuses the chain: the TLD filter is a map-side CASE on the
    scan, dedup is one hash-agg + semi join, the dup-gram set is a
    hash-agg + semi join on 8-byte xxhash64 keys, and the audit is a
    map-side-combined rollup — strictly-shrinking data through ~4
    shuffles, same posture as llm_curation_pipeline (v1) but exercising
    the round-5 stage library."""
    d = load(spark, sf_dir, "documents")
    tld_of = (
        F.when(F.col("lang") == "en", "com")
        .when(F.col("lang") == "de", "de")
        .when(F.col("lang") == "fr", "fr")
        .when(F.col("lang") == "es", "es")
        .otherwise("cn")
    )
    allowed = d.filter(tld_of != "cn").select("doc_id", "lang", "source", "text")
    keepers = allowed.groupBy(F.md5(F.lower(F.trim("text"))).alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    clean = allowed.join(keepers.select("doc_id"), "doc_id", "left_semi")

    k = 32
    with_grams = clean.filter(F.length("text") >= k)
    grams = char_kgram_hashes(with_grams, k).select("doc_id", "ghash")
    dup_keys = (
        grams.groupBy("ghash")
        .agg(F.count_distinct("doc_id").alias("ndoc"))
        .filter(F.col("ndoc") >= 2)
        .select("ghash")
    )
    nd = (
        grams.join(dup_keys, "ghash", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("nd"))
    )
    dropped = (
        with_grams.select("doc_id", (F.length("text") - (k - 1)).alias("ng"))
        .join(nd, "doc_id")
        .filter(F.col("nd") / F.col("ng") > 0.5)
        .select("doc_id")
    )
    final = clean.join(dropped, "doc_id", "left_anti")
    return final.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("total_tokens"),
    )


@query(
    "llm_source_overlap_matrix",
    oracle="""
    WITH toks AS (
      SELECT source, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, len(t) - 3),
                    j -> t[j] || ' ' || t[j+1] || ' ' || t[j+2] || ' '
                         || t[j+3] || ' ' || t[j+4])) AS gram
      FROM toks WHERE len(t) >= 5
    ),
    denom AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM grams
      GROUP BY source
    ),
    common AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM grams a JOIN grams b
        ON a.gram = b.gram AND a.source <> b.source
      GROUP BY a.source, b.source
    )
    SELECT c.src_a, c.src_b, c.n_common, d.n_grams AS n_grams_a,
           CAST(ROUND(c.n_common / CAST(d.n_grams AS DOUBLE), 6) AS DOUBLE)
             AS containment
    FROM common c JOIN denom d ON c.src_a = d.source
    WHERE c.n_common >= 5
    """,
)
def llm_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for each ordered source pair
    (A, B), what fraction of A's distinct 5-gram shingles also occur
    in B? The corpus-level generalization of llm_decontaminate's
    benchmark check — the report that catches one crawl source
    mirroring another (or a test split leaking into a train source)
    before both are "independently" sampled into a training mix.

    Plan shape: shingles build IN-ROW as array expressions, explode
    once, and collapse to DISTINCT (source, gram) — the matrix join
    then runs on the deduplicated gram relation keyed by the GRAM, so
    fan-out per key is the number of sources containing that gram
    (<= |sources|, NOT document count); pair counts aggregate onto the
    |sources|^2 key space and the per-source denominators broadcast
    back. At 100 TB add the same document-frequency cap
    llm_jaccard_dedup applies (drop universal boilerplate grams,
    which carry no discriminative signal and all the skew); the floor
    n_common >= 5 keeps the report to meaningful overlap."""
    d = load(spark, sf_dir, "documents")
    h = (
        d.select("source", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 5)
        .select(
            "source",
            F.explode(word_ngrams(F.col("t"), 5)).alias("gram"),
        )
        .distinct()
    )
    denom = h.groupBy("source").agg(F.count("*").alias("n_grams"))
    a = h.select(F.col("source").alias("src_a"), "gram")
    b = h.select(F.col("source").alias("src_b"), F.col("gram").alias("gram_b"))
    common = (
        a.join(
            b,
            (F.col("gram") == F.col("gram_b"))
            & (F.col("src_a") != F.col("src_b")),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= 5)
    )
    dd = denom.select(
        F.col("source").alias("src_a"), F.col("n_grams").alias("n_grams_a")
    )
    return common.join(F.broadcast(dd), "src_a").select(
        "src_a",
        "src_b",
        "n_common",
        "n_grams_a",
        F.round(
            F.col("n_common") / F.col("n_grams_a").cast("double"), 6
        ).alias("containment"),
    )


@query(
    "llm_epoch_shuffle",
    oracle="""
    WITH bucketed AS (
      SELECT doc_id,
             CASE WHEN n_chars < 150 THEN 'S'
                  WHEN n_chars < 300 THEN 'M'
                  ELSE 'L' END AS len_bucket
      FROM documents
    )
    SELECT doc_id, len_bucket,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY len_bucket
             ORDER BY md5('epoch-3:' || CAST(doc_id AS VARCHAR)), doc_id)
           AS BIGINT) AS position
    FROM bucketed
    """,
)
def llm_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training-data shuffle with length
    bucketing: documents group into S/M/L length buckets (the padding-
    efficiency trick — batches drawn from one bucket waste fewer pad
    tokens) and each bucket gets a full permutation keyed by
    md5(epoch_salt, doc_id). Re-running with the same epoch salt
    reproduces the exact order on any cluster layout — the property
    that makes a training run resumable and an ablation comparable;
    changing the salt is a fresh shuffle with zero data movement
    beyond the rank.

    Plan: one narrow projection, one row_number window PARTITIONED by
    bucket (per-bucket sorted state — no global sort; at 100 TB the
    bucket count rises with a finer length grid, keeping partitions
    bounded). The hash rank is content-addressed like
    split_train_test, so epoch N's order never depends on file layout
    or partition count."""
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.when(F.col("n_chars") < 150, "S")
        .when(F.col("n_chars") < 300, "M")
        .otherwise("L")
    )
    w = Window.partitionBy("len_bucket").orderBy(
        F.md5(F.concat(F.lit("epoch-3:"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return (
        d.select("doc_id", bucket.alias("len_bucket"))
        .withColumn("position", F.row_number().over(w).cast("long"))
    )


@query(
    "llm_tokenizer_coverage",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    freq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok
      WHERE token <> '' GROUP BY token
    ),
    vocab AS (
      SELECT token FROM (
        SELECT token, row_number() OVER (ORDER BY n DESC, token) AS rk
        FROM freq
      ) WHERE rk <= 1000
    ),
    hits AS (
      SELECT t.lang,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_oov
      FROM tok t LEFT JOIN vocab v ON t.token = v.token
      WHERE t.token <> ''
      GROUP BY t.lang
    )
    SELECT lang, n_tokens, n_oov,
           CAST(ROUND(n_oov / CAST(n_tokens AS DOUBLE), 6) AS DOUBLE)
             AS oov_rate
    FROM hits
    """,
)
def llm_tokenizer_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: build the top-1000-token vocabulary
    from the corpus itself (the in-sandbox stand-in for a fixed
    tokenizer vocab) and report per-language token counts and
    out-of-vocabulary rates. A language whose OOV rate spikes is the
    one your tokenizer will shred into bytes — the number to check
    BEFORE paying for a training run (the fertility/coverage audit of
    tokenizer evaluations).

    Plan: term frequencies are one explode + map-side-combined
    hash-agg; the vocabulary is a bounded top-k of the AGGREGATED
    vocabulary (row_number-filter, |vocab| rows); the coverage pass
    LEFT-joins tokens against the BROADCAST 1000-row vocab — the big
    side never shuffles. Rank ties break on the token string, so the
    vocab set is engine-identical."""
    d = load(spark, sf_dir, "documents")
    tok = (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    freq = tok.groupBy("token").agg(F.count("*").alias("n"))
    wv = Window.orderBy(F.col("n").desc(), "token")
    vocab = (
        freq.withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") <= 1000)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    hits = (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
    )
    return hits.select(
        "lang",
        "n_tokens",
        "n_oov",
        F.round(F.col("n_oov") / F.col("n_tokens").cast("double"), 6).alias(
            "oov_rate"
        ),
    )


@query(
    "llm_dataset_card",
    oracle="""
    WITH h AS (
      SELECT doc_id, source, lang, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             md5(lower(trim(text))) AS content_hash
      FROM documents
    ),
    dup AS (
      SELECT content_hash FROM h GROUP BY content_hash HAVING count(*) >= 2
    )
    SELECT h.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT h.lang) AS BIGINT) AS n_langs,
           CAST(SUM(h.n_tokens) AS BIGINT) AS total_tokens,
           CAST(ROUND(quantile_cont(h.n_chars, 0.5), 2) AS DOUBLE)
             AS median_chars,
           CAST(SUM(CASE WHEN d.content_hash IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_dup_docs,
           CAST(ROUND(SUM(CASE WHEN d.content_hash IS NULL THEN 0 ELSE 1 END)
                      / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) AS dup_rate
    FROM h LEFT JOIN dup d ON h.content_hash = d.content_hash
    GROUP BY h.source
    """,
)
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card — the quantitative half of the standard
    dataset documentation artifact (Gebru et al., "Datasheets for
    Datasets"): document and language counts, total whitespace tokens,
    median document length, and the exact-duplicate rate measured
    against the WHOLE corpus (a source whose documents mostly
    duplicate other sources contributes far less than its row count
    suggests — the number that reweights a training mix).

    Plan: one narrow projection computes tokens + content hash in
    codegen; duplicated hashes are one hash-agg with a HAVING filter
    (small — only actually-duplicated hashes survive) LEFT-joined back
    by hash; the card itself is one grouped aggregate per source.
    Exact median kept for the oracle (approx_percentile at 100 TB,
    per the agg_percentile note)."""
    d = load(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.md5(F.lower(F.trim("text"))).alias("content_hash"),
    )
    dup = (
        h.groupBy("content_hash")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("content_hash", F.lit(True).alias("is_dup"))
    )
    joined = h.join(F.broadcast(dup), "content_hash", "left")
    dup_docs = F.sum(F.when(F.col("is_dup").isNull(), 0).otherwise(1))
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.percentile("n_chars", 0.5), 2).alias("median_chars"),
        dup_docs.alias("n_dup_docs"),
        F.round(dup_docs / F.count("*").cast("double"), 6).alias("dup_rate"),
    )
