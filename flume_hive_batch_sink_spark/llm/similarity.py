"""2.I — Similarity search over embedding columns.

Exact pairwise cosine runs as blocked GEMM (`blocked_*`: one BLAS
matmul per block pair), the correctness baseline and the verify tier;
random-hyperplane LSH (`llm_ann_lsh`) and the IVF / SemDeDup / PQ
family are the 100 TB candidate paths: per-vector signatures or
codes are linear, and only candidates meet the exact kernel.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flume_hive_batch_sink_spark.io import load
from flume_hive_batch_sink_spark.partitioning import (
    shuffle_parallelism,
    spread_to_cores,
)
from flume_hive_batch_sink_spark.registry import query


def _as_double(col: str | F.Column) -> F.Column:
    """array<float> → array<double> so the dot product accumulates in
    double (matches the oracle's CAST(… AS DOUBLE[]))."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


_BLOCK = 1024

# Cache cap for the pair-expanded payload relation (block_pairs): each
# row carries BOTH blocks' full vector payloads (~2·_BLOCK·dim float64 ≈
# 1 MB), so the cached relation is O(#blocks²) MEMORY — ~210 rows /
# 0.2 GB at 20k vectors but ~19k rows / 20 GB at 200k vectors, where the
# columnar cache BUILD alone (inMemoryColumnarStorage batches of
# hundreds of 1 MB rows per partition) OOMs a default 16g heap. The
# round-11 sf10 rehearsal hit exactly that. Past the cap the pairs
# relation streams per query — still derived from the cached O(n) block
# index, so the extra cost is one re-shuffle of the payload fan-out,
# which is disk-bounded, not heap-bounded. 64 blocks ⇒ ≤2080 cached
# pair rows ≈ 2 GB spread over the shuffle partitions — safe.
_PAIRS_CACHE_MAX_BLOCKS = 64

# Block index cache: the block-grouped vector representation is the
# "index build" half of a vector-search system — built once per dataset,
# queried many times (the same split every ANN system makes: IVF/LSH
# build vs. search). Keyed by the input's IDENTITY, not the raw path
# string: the resolved key folds in the owning SparkSession's
# applicationId (a stopped-and-recreated session must never be served a
# dead cached plan) and the dataset's filesystem fingerprint (path +
# mtime + size — rewritten data must rebuild, not serve stale blocks).
# Bounded LRU: evicted entries are unpersist()ed so executor storage
# stays flat no matter how many datasets flow through one session.


class _BlockIndexCache:
    CAP = 8  # distinct (dataset, structure) entries held persistent

    def __init__(self) -> None:
        from collections import OrderedDict

        self._entries: "OrderedDict[tuple, DataFrame]" = OrderedDict()

    @staticmethod
    def _fingerprint(cache_key: str) -> str:
        """Dataset identity for path-like keys: path + mtime_ns + size of
        the embeddings file (or the directory itself), so a rewrite under
        the same path changes the key instead of serving stale blocks."""
        import os

        probe = os.path.join(cache_key, "embeddings.parquet")
        target = probe if os.path.exists(probe) else cache_key
        try:
            st = os.stat(target)
            return f"{cache_key}:{st.st_mtime_ns}:{st.st_size}"
        except OSError:
            return cache_key

    def _resolve(self, emb: DataFrame, cache_key: str, variant: str) -> tuple:
        app_id = emb.sparkSession.sparkContext.applicationId
        return (app_id, self._fingerprint(cache_key), variant)

    def get(self, emb: DataFrame, cache_key: str, variant: str) -> DataFrame | None:
        key = self._resolve(emb, cache_key, variant)
        df = self._entries.get(key)
        if df is not None:
            self._entries.move_to_end(key)
        return df

    def put(self, emb: DataFrame, cache_key: str, variant: str, df: DataFrame) -> None:
        key = self._resolve(emb, cache_key, variant)
        self._entries[key] = df
        self._entries.move_to_end(key)
        # Entries from other (stopped) sessions are dead weight — drop first.
        for k in [k for k in self._entries if k[0] != key[0]]:
            self._drop(k)
        # Then LRU-evict (oldest first) down to the cap, unpersisting.
        while len(self._entries) > self.CAP:
            self._drop(next(iter(self._entries)))

    def _drop(self, key: tuple) -> None:
        df = self._entries.pop(key, None)
        if df is None:
            return
        try:
            df.unpersist()
        except Exception:
            pass  # owning session already stopped — JVM state is gone anyway

    def clear(self) -> None:
        for k in list(self._entries):
            self._drop(k)

    def __len__(self) -> int:
        return len(self._entries)


_BLOCK_INDEX = _BlockIndexCache()


def block_index(emb: DataFrame, cache_key: str | None = None) -> DataFrame:
    """Group vectors into ≤_BLOCK-row blocks: (blk, [{vec_id, e}…]).

    One linear shuffle; with ``cache_key`` the result is cached so
    repeated top-k / kNN queries skip the build (index amortization).
    """
    if cache_key is not None:
        hit = _BLOCK_INDEX.get(emb, cache_key, "index")
        if hit is not None:
            return hit
    blocks = (
        emb.select(
            (F.col("vec_id") / _BLOCK).cast("int").alias("blk"),
            F.struct(F.col("vec_id"), _as_double("embedding").alias("e")).alias("v"),
        )
        .groupBy("blk")
        .agg(F.collect_list("v").alias("vecs"))
    )
    if cache_key is not None:
        blocks = blocks.cache()
        blocks.count()
        _BLOCK_INDEX.put(emb, cache_key, "index", blocks)
    return blocks


def block_pairs(
    emb: DataFrame, mode: str, cache_key: str | None = None
) -> DataFrame:
    """Block-pair search structure: (va, vb) vector-payload rows, one row
    per block combination, hash-partitioned on (blk_a, blk_b) into
    ``min(#pairs, spark.sql.shuffle.partitions)`` partitions.

    ``mode='tri'`` keeps the upper triangle blk_a ≤ blk_b (symmetric
    pair kernels); ``mode='cross'`` keeps all ordered combos (per-query
    kNN, where query and candidate roles differ). Like ``block_index``
    this is the build half of the search system and is cached per
    dataset — the payload shuffle (the dominant per-query cost: each row
    carries ≤_BLOCK×dim doubles) happens once, and every subsequent
    top-k / threshold / kNN query is a map-only stage over the cached
    partitions. k and thresholds live in the kernel, not the structure,
    so all query shapes share one cache entry per mode.

    AQE does not coalesce a cached plan's output, so the count chosen
    here is the Python task count of every query over the relation, and
    each task pays the worker's per-task setup (~210 ms on a 4-vCPU
    host) before its 1–5 ms GEMM; sizing it to the pair count keeps
    empty partitions from running as tasks. Hash placement can still
    put two pairs on one task.

    The cache is CAPPED at ``_PAIRS_CACHE_MAX_BLOCKS`` blocks: the
    pair-expanded payload is O(#blocks²) memory, so past the cap it
    streams per query instead (derived from the still-cached O(n)
    block index). See the cap's comment for the sf10 OOM this guards.
    """
    if cache_key is not None:
        hit = _BLOCK_INDEX.get(emb, cache_key, f"pairs::{mode}")
        if hit is not None:
            return hit
    blocks = block_index(emb, cache_key)
    # blocks is already cached+counted on the cache_key path, so this
    # count is a metadata-cheap read, and the sizing and cap are exact.
    n_blocks = blocks.count()
    n_pairs = n_blocks * (n_blocks + 1) // 2 if mode == "tri" else n_blocks**2
    a = blocks.select(F.col("blk").alias("blk_a"), F.col("vecs").alias("va"))
    b = blocks.select(F.col("blk").alias("blk_b"), F.col("vecs").alias("vb"))
    cond = F.col("blk_a") <= F.col("blk_b") if mode == "tri" else F.lit(True)
    pairs = a.join(b, cond).repartition(
        max(1, min(n_pairs, shuffle_parallelism(emb))), "blk_a", "blk_b"
    )
    if cache_key is not None and n_blocks <= _PAIRS_CACHE_MAX_BLOCKS:
        pairs = pairs.cache()
        pairs.count()
        _BLOCK_INDEX.put(emb, cache_key, f"pairs::{mode}", pairs)
    return pairs


def _decode_block(structs, id_field: str = "vec_id", vec_field: str = "e"):
    """One block's struct list → (int64 ids, row-normalised float64
    matrix): the decode every blocked-GEMM kernel starts from."""
    import numpy as np

    ids = np.array([v[id_field] for v in structs], dtype=np.int64)
    mat = np.array([v[vec_field] for v in structs], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return ids, mat


def _block_pair_gemm(pairs: DataFrame, pick) -> DataFrame:
    """(vec_a, vec_b, cos_raw) rows from one float64 GEMM per (va, vb)
    block-pair row: ``pick(ids_a, ids_b, sims)`` returns the (row, col)
    indices to emit, and may overwrite entries of ``sims`` it never
    picks (masking)."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            out = []
            for va, vb in zip(pdf["va"], pdf["vb"]):
                ids_a, mat_a = _decode_block(va)
                ids_b, mat_b = _decode_block(vb)
                sims = mat_a @ mat_b.T
                ai, bi = pick(ids_a, ids_b, sims)
                if len(ai):
                    out.append(
                        pd.DataFrame(
                            {
                                "vec_a": ids_a[ai],
                                "vec_b": ids_b[bi],
                                "cos_raw": sims[ai, bi],
                            }
                        )
                    )
            yield pd.concat(out) if out else pd.DataFrame(
                {"vec_a": pd.Series(dtype="int64"),
                 "vec_b": pd.Series(dtype="int64"),
                 "cos_raw": pd.Series(dtype="float64")}
            )

    return pairs.mapInPandas(kernel, "vec_a BIGINT, vec_b BIGINT, cos_raw DOUBLE")


def blocked_topk_pairs(emb: DataFrame, k: int = 100, cache_key: str | None = None) -> DataFrame:
    """Global top-k cosine pairs via blocked GEMM.

    Vectors are grouped into blocks of ≤1024; block pairs (upper
    triangle) fan out as rows, and each task computes its ≤1024×1024
    cosine matrix with one float64 numpy matmul, emitting only its local
    top-k. Global top-k ⊆ union of per-block-pair top-k, so a final
    TakeOrdered over ~k·#pairs candidate rows is exact. At 100 TB this
    is the standard scale-out: O(n²/B²) tasks, each BLAS-bound, no
    2M-row pair materialization — and LSH bucketing (llm_ann_lsh) can
    pre-prune which block pairs meet at all.
    """
    import numpy as np

    def pick(ids_a, ids_b, sims):
        # keep strictly vec_a < vec_b (also kills the diagonal)
        sims[ids_a[:, None] >= ids_b[None, :]] = -np.inf
        flat = sims.ravel()
        take = min(k, int((flat > -np.inf).sum()))
        if take == 0:
            return (), ()
        return np.unravel_index(np.argpartition(-flat, take - 1)[:take], sims.shape)

    return _block_pair_gemm(block_pairs(emb, "tri", cache_key), pick)


def blocked_threshold_pairs(
    emb: DataFrame, threshold: float, cache_key: str | None = None
) -> DataFrame:
    """All pairs (vec_a < vec_b) with cosine ≥ threshold, via blocked
    GEMM: each block-pair task emits its above-threshold entries from
    one BLAS matmul. Exact (no candidate pruning) — the verify-tier twin
    of blocked_topk_pairs for threshold semantics like near-dup."""
    import numpy as np

    def pick(ids_a, ids_b, sims):
        return np.nonzero((sims >= threshold) & (ids_a[:, None] < ids_b[None, :]))

    return _block_pair_gemm(block_pairs(emb, "tri", cache_key), pick)


def blocked_knn_candidates(
    emb: DataFrame, k: int, cache_key: str | None = None
) -> DataFrame:
    """Per-query k-nearest candidates via blocked GEMM.

    Every (query-block, candidate-block) combination is one task whose
    GEMM emits the top-k candidates *per query row* against that
    candidate block; the exact global top-k per query is then a window
    over ≤ k·#blocks candidate rows per query. Same O(n²/B²) BLAS
    scale-out as blocked_topk_pairs, but row-wise: replaces the
    4M-row zip_with dot-product expansion of naive all-pairs kNN.
    """
    import numpy as np

    def pick(ids_a, ids_b, sims):
        sims[ids_a[:, None] == ids_b[None, :]] = -np.inf  # self
        kk = min(k, sims.shape[1])
        idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
        rows = np.repeat(np.arange(len(ids_a)), kk)
        cols = idx.ravel()
        keep = sims[rows, cols] > -np.inf
        return rows[keep], cols[keep]

    return _block_pair_gemm(block_pairs(emb, "cross", cache_key), pick)


@query(
    "llm_sim_topk_pairs",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) DESC,
             a.vec_id, b.vec_id
    LIMIT 100
    """,
)
def llm_sim_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 most-similar embedding pairs via blocked GEMM; final
    orderBy+limit compiles to TakeOrderedAndProject over the ~k·#pairs
    candidates. Ties broken on (vec_a, vec_b)."""
    emb = load(spark, sf_dir, "embeddings")
    cands = blocked_topk_pairs(emb, k=100, cache_key=sf_dir)
    return (
        cands.orderBy(F.col("cos_raw").desc(), "vec_a", "vec_b")
        .limit(100)
        .select("vec_a", "vec_b", F.round("cos_raw", 4).alias("cos"))
    )


@query(
    "llm_knn_label",
    oracle="""
    WITH sims AS (
      SELECT q.vec_id AS qid, n.vec_id AS nid, n.label,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(n.embedding AS DOUBLE[])) AS cos
      FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
    ), topk AS (
      SELECT qid, label FROM (
        SELECT qid, label,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
        FROM sims) WHERE rn <= 5
    ), votes AS (
      SELECT qid, label, count(*) AS c FROM topk GROUP BY qid, label
    )
    SELECT qid AS vec_id, CAST(label AS INT) AS pred_label FROM (
      SELECT qid, label,
             row_number() OVER (PARTITION BY qid ORDER BY c DESC, label) AS rn
      FROM votes) WHERE rn = 1
    """,
)
def llm_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority-label vote per vector, via blocked per-query GEMM
    candidates (k per block-pair, exact superset of the global top-k).
    The mode is computed explicitly (count desc, label asc) — builtin
    mode() tie-breaks differ across engines."""
    emb = load(spark, sf_dir, "embeddings")
    labels = emb.select(F.col("vec_id").alias("vec_b"), "label")
    sims = blocked_knn_candidates(emb, k=5, cache_key=sf_dir).join(labels, "vec_b")
    w = Window.partitionBy("vec_a").orderBy(F.col("cos_raw").desc(), F.col("vec_b"))
    topk = sims.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    votes = topk.groupBy("vec_a", "label").agg(F.count("*").alias("c"))
    wv = Window.partitionBy("vec_a").orderBy(F.col("c").desc(), F.col("label"))
    return (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(F.col("vec_a").alias("vec_id"), F.col("label").alias("pred_label"))
    )


_N_PLANES = 16
_DIM = 64


def _plane_sign(k: int, j: int) -> float:
    """Deterministic ±1 from md5 — reproducible in SQL as
    substr(md5(k||':'||j),1,1) in ('8'..'f')."""
    return 1.0 if hashlib.md5(f"{k}:{j}".encode()).hexdigest()[0] in "89abcdef" else -1.0


_ANN_ORACLE = f"""
    WITH s AS (
      SELECT k.k, j.j,
             CASE WHEN substr(md5(k.k || ':' || j.j), 1, 1)
                  IN ('8','9','a','b','c','d','e','f')
                  THEN 1.0 ELSE -1.0 END AS sgn
      FROM (SELECT unnest(range(0, {_N_PLANES})) AS k) k,
           (SELECT unnest(range(1, {_DIM} + 1)) AS j) j
    ), dots AS (
      SELECT e.vec_id, s.k,
             SUM(s.sgn * CAST(e.embedding[s.j] AS DOUBLE)) AS dot
      FROM embeddings e, s
      GROUP BY e.vec_id, s.k
    )
    SELECT vec_id,
           CAST(SUM(CASE WHEN dot >= 0 THEN 1 << k ELSE 0 END) AS BIGINT)
             AS bucket
    FROM dots GROUP BY vec_id
"""


@query("llm_ann_lsh", oracle=_ANN_ORACLE)
def llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH signatures: 16 seeded ±1 hyperplanes, bucket
    = sign-bit vector of the projections.

    This is the ANN candidate generator for 100 TB similarity search:
    signatures are one broadcast-join + aggregation (linear in rows ×
    planes), then neighbor search joins bucket-mates only (llm_embed_dup
    / llm_sim_topk_pairs provide the exact kernel). Recall/quality is
    asserted in tests/test_llm.py; the oracle checks the signature math
    exactly.
    """
    emb = load(spark, sf_dir, "embeddings")
    planes = [
        (k, j, _plane_sign(k, j + 1))
        for k in range(_N_PLANES)
        for j in range(_DIM)
    ]
    plane_df = emb.sparkSession.createDataFrame(
        planes, "k INT, j INT, sgn DOUBLE"
    )
    comps = emb.select(
        "vec_id", F.posexplode(_as_double("embedding")).alias("j", "x")
    )
    dots = (
        comps.join(F.broadcast(plane_df), "j")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.col("sgn") * F.col("x")).alias("dot"))
    )
    bucket = F.sum(
        F.when(F.col("dot") >= 0, F.expr("shiftleft(1, k)")).otherwise(0)
    )
    return dots.groupBy("vec_id").agg(bucket.cast("long").alias("bucket"))


# ---------------------------------------------------------------------------
# Coarse-quantizer sizing — shared by the whole IVF / SemDeDup family
# ---------------------------------------------------------------------------
#
# k = clamp(ceil(sqrt(n)), 4, _QUANT_K_CAP). sqrt(n) balances IVF's two
# cost terms — centroid assignment is n·k and in-list search is
# Σ|cluster|² ≈ n²/k, so both land at n^1.5 — and the cap bounds what
# the driver or an Arrow-kernel closure may ever hold: centroid state
# is O(min(⌈√n⌉, 4096)·dim) doubles (KBs→2 MB at dim 64), NEVER linear
# in the data. Above the closure budget, assignment switches to a
# blocked-GEMM join against a centroid DataFrame (_centroid_probes).
# The stride form (every stride-th vec_id is a centroid, stride =
# ⌈n/k⌉) keeps centroid selection SQL-replayable for the hash-oracle
# keys; the float expression below is mirrored verbatim in the oracles'
# p CTE so both engines derive the identical stride (property-tested
# against DuckDB in tests/test_quantizer.py).

_QUANT_K_CAP = 4096


def _quantizer_k(n: int) -> int:
    """Centroid count for an n-vector corpus: ⌈√n⌉ clamped to [4, 4096]."""
    import math

    return int(max(4.0, min(float(_QUANT_K_CAP), math.ceil(math.sqrt(n)))))


def _centroid_stride(n: int) -> int:
    """Deterministic centroid stride ⌈n / k⌉ — every stride-th vec_id is
    a centroid, yielding ~_quantizer_k(n) centroids. Computed with the
    exact IEEE-double expression the SQL oracles use."""
    import math

    kf = max(4.0, min(float(_QUANT_K_CAP), math.ceil(math.sqrt(n))))
    return int(math.ceil(n / kf))


# SQL twin of _centroid_stride: same clamp, same double math, DuckDB-side.
_STRIDE_CTE = (
    "SELECT CAST(ceil(count(*) / greatest(4.0, least({cap}.0, "
    "ceil(sqrt(count(*)))))) AS BIGINT) AS stride FROM embeddings"
).format(cap=_QUANT_K_CAP)

_IVF_ORACLE = f"""
    WITH p AS ({_STRIDE_CTE}),
    cent AS (
      SELECT vec_id AS cid, embedding FROM embeddings, p
      WHERE vec_id % p.stride = 0
    ), assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY COALESCE(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]),
                   CAST(c.embedding AS DOUBLE[])), -2.0) DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c) WHERE rn = 1
    )
    SELECT vec_id, nn_id, cos FROM (
      SELECT ea.vec_id, eb.vec_id AS nn_id,
             ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                          CAST(eb.embedding AS DOUBLE[])), 4)
               AS cos,
             row_number() OVER (
               PARTITION BY ea.vec_id
               ORDER BY COALESCE(list_cosine_similarity(
                 CAST(ea.embedding AS DOUBLE[]),
                 CAST(eb.embedding AS DOUBLE[])), -2.0) DESC, eb.vec_id) AS rn
      FROM embeddings ea
      JOIN assign aa ON aa.vec_id = ea.vec_id
      JOIN assign ab ON ab.cid = aa.cid AND ab.vec_id <> ea.vec_id
      JOIN embeddings eb ON eb.vec_id = ab.vec_id
    ) WHERE rn = 1
"""


@query("llm_ann_ivf", oracle=_IVF_ORACLE)
def llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate nearest neighbor: coarse-quantize every
    vector to its nearest centroid (cosine), then search top-1 within the
    probed cluster only (nprobe=1).

    Centroids are the deterministic stride subset of the vectors
    themselves (oracle-reproducible), sized sublinearly: k ≈ ⌈√n⌉
    capped at 4096 (_quantizer_k), stride = ⌈n/k⌉ — the oracle's p CTE
    derives the identical stride, so both engines pick the same
    centroid set at every scale. A production deployment swaps in
    k-means centroids (llm_ann_ivf_kmeans) — the dataflow is
    identical. The 100 TB shape: the centroid list is O(√n) capped and
    broadcast (assignment is one linear pass, no shuffle); candidate
    generation shuffles on the cluster id, so each inverted list joins
    locally — O(n·√n) assignment + Σ|cluster|² ≈ n^1.5 in-list search
    instead of O(n²), with nprobe tuning recall.
    """
    emb = load(spark, sf_dir, "embeddings")
    stride = _centroid_stride(emb.count())
    e = emb.select("vec_id", _as_double("embedding").alias("e")).withColumn(
        "n", F.sqrt(dot(F.col("e"), F.col("e")))
    )
    cent = e.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("e").alias("ce"),
        F.col("n").alias("cn"),
    )
    # Spread the corpus before the broadcast fan-out (the repartition
    # lesson): the embeddings scan arrives in O(file row groups)
    # partitions, and the crossJoin multiplies each row by k — at sf10
    # that is 90M dot products that would otherwise run on a handful of
    # cores, because AQE sizes by map-side bytes and is blind to join
    # fan-out. A scan that already has a split per core is left as is.
    #
    # coalesce to a sentinel below any real cosine: a zero-norm embedding
    # makes the division NULL (non-ANSI), and max_by SKIPS rows whose
    # ordering key is NULL — the degenerate vector would silently drop
    # out of the pair search while the oracle's window keeps it. The
    # sentinel gives both engines the identical arbitrary-centroid
    # treatment (oracle mirrors with COALESCE(..., -2.0)).
    scored = spread_to_cores(e).crossJoin(F.broadcast(cent)).withColumn(
        "cos_c",
        F.coalesce(
            dot(F.col("e"), F.col("ce")) / (F.col("n") * F.col("cn")),
            F.lit(-2.0),
        ),
    )
    # Argmax via map-side-combined max_by, NOT a row_number window: the
    # window form shuffles all n·k scored rows — each still carrying the
    # 512-byte vector payload — ≈90 GB at 200k vectors (916 s in the
    # round-11 sf10 rehearsal). Partial aggregation reduces each map
    # partition to one row per vec_id before the exchange, so the
    # shuffle is O(n) rows; projecting the payload OUT first keeps the
    # aggregate's local sort to three scalar columns, and the payload
    # re-attaches via an O(n) equi join. Tie order matches the oracle's
    # window (cos DESC, cid ASC): max of (cos_c, -cid) picks the
    # highest cosine, then the lowest cid.
    assign = (
        scored.select("vec_id", "cid", "cos_c")
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("cid"),
                F.struct(F.col("cos_c"), (-F.col("cid")).alias("nc")),
            ).alias("cid")
        )
        .join(e, "vec_id")
    )
    a = assign.select(
        "vec_id", F.col("e").alias("ea"), F.col("n").alias("na"), "cid"
    )
    b = assign.select(
        F.col("vec_id").alias("nn_id"),
        F.col("e").alias("eb"),
        F.col("n").alias("nb"),
        "cid",
    )
    pairs = a.join(b, "cid").filter(F.col("vec_id") != F.col("nn_id"))
    cos_raw = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    # Same max_by-over-window swap for the in-list search: the pair
    # fan-out is Σ|cluster|² rows, and partial aggregation collapses
    # them per vec_id before any second exchange.
    return (
        pairs.withColumn("cos_raw", cos_raw)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct(F.col("nn_id"), F.col("cos_raw")),
                # same NULL-cosine sentinel as the assignment stage: a
                # zero-norm neighbor must rank below every real cosine
                # in BOTH engines, not vanish from max_by
                F.struct(
                    F.coalesce(F.col("cos_raw"), F.lit(-2.0)),
                    (-F.col("nn_id")).alias("nn"),
                ),
            ).alias("best")
        )
        .select(
            "vec_id",
            F.col("best.nn_id").alias("nn_id"),
            F.round("best.cos_raw", 4).alias("cos"),
        )
    )


_KMEANS_ITERS = 5  # fixed Lloyd iterations — deterministic, no tol loop

# Largest training set Lloyd's iterations ever touch: deterministic
# modulo-sample above this, so training cost is O(cap·k·iters) no
# matter how big the corpus — the quantizer is a sketch of the data
# distribution, not a function of every row.
_KMEANS_TRAIN_CAP = 65536

# Closure budget for centroid assignment, in float64 slots: at or
# under this, the centroid matrix rides the Arrow kernel's closure
# (one map-only pass, zero shuffle); above it, assignment becomes a
# blocked-GEMM join against a centroid DataFrame so no task payload or
# driver structure scales with k. 2^20 doubles = 8 MB.
_ASSIGN_CLOSURE_DOUBLES = 1 << 20


def _train_sample_mod(n: int) -> int:
    """Deterministic training-sample stride: vec_id % mod == 0 keeps
    ≤ ~_KMEANS_TRAIN_CAP rows regardless of corpus size."""
    import math

    return max(1, math.ceil(n / _KMEANS_TRAIN_CAP))


def _centroid_probes(vec_df: DataFrame, cent_mat, nprobe: int) -> DataFrame:
    """Assign every vector its ``nprobe`` nearest centroids by cosine:
    ``vec_df``'s columns plus cid (the top-1) and probes (the ranked
    nprobe list), both ints indexing ``cent_mat`` rows — the one
    assigner every IVF / SemDeDup key uses.

    ``cent_mat`` is a row-normalized numpy (k, dim) matrix; vectors in
    ``vec_df`` ("vec_id", "e", …) are normalized in-kernel. Dispatch on
    the closure budget: k·dim ≤ _ASSIGN_CLOSURE_DOUBLES ships the
    matrix in the Arrow kernel's closure (map-only, no shuffle);
    larger quantizers route through _centroid_probes_join so neither
    the task payload nor any single partition ever holds the full
    centroid set. Ties break toward the lower cid on BOTH paths
    (argmax / stable argsort / window ORDER BY sim DESC, cid).
    """
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    k, dim = cent_mat.shape
    p = min(nprobe, k)
    if k * dim > _ASSIGN_CLOSURE_DOUBLES:
        cent_df = vec_df.sparkSession.createDataFrame(
            [(int(i), [float(x) for x in row]) for i, row in enumerate(cent_mat)],
            "cid INT, ce ARRAY<DOUBLE>",
        )
        probes = _centroid_probes_join(vec_df.select("vec_id", "e"), cent_df, p)
        return vec_df.join(probes, "vec_id")

    def assign(batches, c_mat=cent_mat, pp=p):
        for pdf in batches:
            mat = np.array(pdf["e"].tolist(), dtype=np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            sims = mat @ c_mat.T
            cid = np.argmax(sims, axis=1)
            probes = np.argsort(-sims, axis=1, kind="stable")[:, :pp]
            yield pdf.assign(
                cid=cid.astype(np.int32),
                probes=[r.astype(np.int32).tolist() for r in probes],
            )

    out = StructType(
        vec_df.schema.fields  # + builds a new list; .add would append to this one
        + [
            StructField("cid", IntegerType()),
            StructField("probes", ArrayType(IntegerType())),
        ]
    )
    return vec_df.mapInPandas(assign, out)


# Multiprobe search blocking (round-14). The r14 emb500k probe killed
# llm_semdedup_kmeans with ENOSPC: the probe-exploded query side
# shipped nprobe·n rows EACH carrying the 64-double vector (~150 GB of
# incompressible shuffle at 500k vectors, nprobe=0.8k) — the ANN
# sibling of the r13 minhash lesson (pair-stage I/O ∝ candidates ×
# array size). The fix groups the search by (centroid-block,
# query-block): a query ships its vector once per probed BLOCK of
# _PROBE_CBLK centroids (≤ ⌈k/128⌉ replicas instead of nprobe), a
# database vector once per query block (⌈n/_PROBE_QBLK⌉ replicas), and
# the in-task GEMM masks (q, d) pairs whose d.cid is not in q's probe
# list — bit-identical pair coverage, shuffle volume ~40× smaller,
# extra masked flops ≤ the block fraction not probed (small at high
# nprobe, and they are BLAS flops). Tasks = cblocks × qblocks keeps 32+
# cores busy at 500k vectors while each task's GEMM tiles q rows so no
# sims matrix exceeds ~tile×|d-block| doubles.
_PROBE_CBLK = 128
_PROBE_QBLK = 1 << 16
_PROBE_QTILE = 512
# Round-15 (ADVICE r14): cap on query-block COUNT. With a fixed
# _PROBE_QBLK the d-side replication factor is ⌈n/2^16⌉ — 77 copies of
# every database vector at 5M vectors, 763 at 50M: the quadratic
# shuffle the blocking was built to kill reappearing one order up.
# Growing the query-block SIZE once n exceeds _PROBE_QBLK·cap bounds
# d-copies at the cap (linear total d-shuffle = cap·n rows) and trades
# it for per-task q-side memory ∝ n/cap (~400 MB of raw vectors at
# 50M — the point where sharding by centroid only, with the q side
# routed to probed blocks, becomes the better layout; documented in
# SCALE.md rather than speculatively built).
_PROBE_MAX_QBLOCKS = 64


def _multiprobe_blocks(assigned: DataFrame, n_vec: int) -> DataFrame:
    """Blocked multiprobe relation from ``assigned`` (vec_id, e, cid,
    probes): role-1 rows are queries, one per (vec, probed cblk) with
    the probe list FILTERED to that block (ints, not the full list);
    role-0 rows are database vectors, one per (vec, qblk) under the
    block of their top-1 cid. Grouping by (cblk, qblk) gives every
    (q, d) pair with d.cid ∈ q.probes exactly one meeting task."""
    qblk_rows = max(_PROBE_QBLK, -(-n_vec // _PROBE_MAX_QBLOCKS))
    nq_blocks = max(1, -(-n_vec // qblk_rows))
    blk_of = lambda c: F.floor(c / _PROBE_CBLK).cast("int")  # noqa: E731
    q_pre = assigned.select(
        "vec_id",
        "e",
        "probes",
        F.pmod(F.xxhash64("vec_id"), F.lit(nq_blocks)).cast("int").alias("qblk"),
        F.explode(
            F.array_distinct(F.transform("probes", lambda c: blk_of(c)))
        ).alias("cblk"),
    )
    q_side = q_pre.select(
        "cblk",
        "qblk",
        F.lit(1).alias("role"),
        "vec_id",
        "e",
        F.lit(None).cast("int").alias("cid"),
        F.filter(
            "probes", lambda c: blk_of(c) == F.col("cblk")
        ).alias("probes_blk"),
    )
    d_side = assigned.select(
        blk_of(F.col("cid")).alias("cblk"),
        # sequence(), not a literal array: an nq_blocks-element literal
        # bloats the Catalyst plan linearly in n (ADVICE r14); the
        # sequence expression is constant-size for any block count
        F.explode(
            F.sequence(F.lit(0), F.lit(nq_blocks - 1)).cast("array<int>")
        ).alias("qblk"),
        F.lit(0).alias("role"),
        "vec_id",
        "e",
        "cid",
        F.lit(None).cast("array<int>").alias("probes_blk"),
    )
    return q_side.unionByName(d_side)


def _probe_mask(probes, lo, hi):
    """(hi−lo, _PROBE_CBLK) bool matrix: row i True at the local ids of
    query i's in-block probe list — built with one fancy-index write,
    no per-element Python loop."""
    import numpy as np

    lens = np.array([len(probes[i]) for i in range(lo, hi)])
    rows = np.repeat(np.arange(hi - lo), lens)
    cols = (
        np.concatenate([np.asarray(probes[i]) for i in range(lo, hi)]).astype(
            np.int64
        )
        % _PROBE_CBLK
        if lens.sum()
        else np.array([], dtype=np.int64)
    )
    m = np.zeros((hi - lo, _PROBE_CBLK), dtype=bool)
    m[rows, cols] = True
    return m


def _centroid_probes_join(
    vec_df: DataFrame, cent_df: DataFrame, nprobe: int
) -> DataFrame:
    """Centroid assignment as a blocked-GEMM join — the over-budget
    path of _centroid_probes, and the shape a 100 TB deployment uses
    when the quantizer outgrows a closure: centroids live in a
    DataFrame ("cid", "ce"), never in a Python closure and (when they
    come from a distributed build) never on the driver at all.

    Vectors and centroids are grouped into ≤_BLOCK-row blocks; every
    (vblk, cblk) combination is one task computing a (≤1024 × ≤1024)
    float64 GEMM and emitting each vector's block-local top-nprobe; a
    per-vector window then merges block-local winners into the global
    ranked probe list. Work is n·k multiply-adds (same as closure
    assignment), but what shuffles is n·⌈k/_BLOCK⌉·nprobe candidate
    rows of three scalars — never n·k pair rows, never array payloads.
    """
    import numpy as np
    import pandas as pd

    vb = (
        vec_df.select(
            (F.col("vec_id") / _BLOCK).cast("int").alias("vblk"),
            F.struct("vec_id", "e").alias("v"),
        )
        .groupBy("vblk")
        .agg(F.collect_list("v").alias("vs"))
    )
    cb = (
        cent_df.select(
            (F.col("cid") / _BLOCK).cast("int").alias("cblk"),
            F.struct("cid", "ce").alias("c"),
        )
        .groupBy("cblk")
        .agg(F.collect_list("c").alias("cs"))
    )
    pairs = vb.crossJoin(cb).repartition(F.col("vblk"), F.col("cblk"))

    def kernel(batches):
        for pdf in batches:
            out = []
            for vs, cs in zip(pdf["vs"], pdf["cs"]):
                vids, vmat = _decode_block(vs)
                cids, cmat = _decode_block(cs, "cid", "ce")
                order = np.argsort(cids)  # global-cid tiebreak inside the block
                cids, cmat = cids[order], cmat[order]
                sims = vmat @ cmat.T
                pp = min(nprobe, sims.shape[1])
                idx = np.argsort(-sims, axis=1, kind="stable")[:, :pp]
                rows = np.repeat(np.arange(len(vids)), pp)
                cols = idx.ravel()
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": vids[rows],
                            "cid": cids[cols].astype(np.int32),
                            "sim": sims[rows, cols],
                        }
                    )
                )
            yield pd.concat(out) if out else pd.DataFrame(
                {
                    "vec_id": pd.Series(dtype="int64"),
                    "cid": pd.Series(dtype="int32"),
                    "sim": pd.Series(dtype="float64"),
                }
            )

    cand = pairs.mapInPandas(kernel, "vec_id BIGINT, cid INT, sim DOUBLE")
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "cid")
    ranked = cand.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= nprobe
    )
    return ranked.groupBy("vec_id").agg(
        F.min(F.when(F.col("rn") == 1, F.col("cid"))).alias("cid"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("rn", "cid"))),
            lambda s: s["cid"],
        ).alias("probes"),
    )


def _kmeans_centroids(
    emb: DataFrame, k: int, n_vec: int | None = None, iters: int = _KMEANS_ITERS
):
    """Seeded distributed Lloyd's k-means over the embedding column;
    returns the trained centroids as a row-normalized numpy (k, dim)
    matrix on the driver — O(k·dim) with k capped at _QUANT_K_CAP, so
    the driver never holds anything that grows with the corpus.

    Deterministic by construction: init = the FIRST k rows (by vec_id,
    ``limit(k)`` pushed into the query so the driver never materializes
    rows it discards) of a deterministic modulo training sample capped
    at _KMEANS_TRAIN_CAP rows, a FIXED number of iterations, and every
    reduction is an exact per-dimension mean (no RNG). Per iteration:
    assignment goes through _centroid_probes (closure kernel under the
    budget, blocked-GEMM join above it); the update is a built-in
    groupBy mean over exploded (cid, dim, x) rows — partial-aggregated
    map-side, so what shuffles is k·dim partial sums per task, not
    data. The sample bound makes training cost independent of corpus
    size: the quantizer is a sketch of the distribution, not a
    function of every row.
    """
    import numpy as np

    if n_vec is None:
        n_vec = emb.count()
    samp_mod = _train_sample_mod(n_vec)
    train = emb.filter(F.col("vec_id") % samp_mod == 0).select(
        "vec_id", _as_double("embedding").alias("e")
    )
    init_rows = (
        train.orderBy("vec_id").limit(k).select("e").toPandas()["e"].tolist()
    )
    cent = np.array(init_rows, dtype=np.float64)
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    k = cent.shape[0]  # degenerate corpora smaller than k
    dim = cent.shape[1]

    for _ in range(iters):
        means = (
            _centroid_probes(train, cent, 1)
            .select("cid", F.posexplode("e").alias("j", "x"))
            .groupBy("cid", "j")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new_cent = cent.copy()  # empty clusters keep their old centroid
        sums = {}
        for r in means:
            sums.setdefault(r["cid"], np.zeros(dim))[r["j"]] = r["m"]
        for cid, v in sums.items():
            n = np.linalg.norm(v)
            if n > 0:
                new_cent[cid] = v / n
        cent = new_cent
    return cent


def _multiprobe_search(
    emb: DataFrame, n_vec: int, reduce_tile, schema: str
) -> DataFrame:
    """The trained-quantizer multiprobe search of the IVF and
    SemDeDup-kmeans keys: train k = _quantizer_k(n) centroids
    (_kmeans_centroids), assign every vector its nprobe = ⌈0.8·k⌉
    nearest lists (_centroid_probes), and run one GEMM per
    (centroid-block, query-block) group of the blocked multiprobe
    relation, in _PROBE_QTILE-row query tiles. Per tile,
    ``reduce_tile(sims, allowed, qids, dids)`` reduces the (tile ×
    |d-group|) cosine matrix, its probe mask and the tile's query /
    database ids to a dict of equal-length output columns; ``schema``
    is their Spark DDL.

    Query role probes its nprobe nearest lists; database role is
    indexed once under its single nearest centroid. The search runs
    over the BLOCKED multiprobe relation (_multiprobe_blocks): the
    pre-round-14 per-cid grouping exploded one q row PER PROBED LIST,
    each dragging the 64-double vector — nprobe·n·dim ≈ 150 GB of
    incompressible shuffle at 500k vectors (ENOSPC'd the emb500k
    probe). Blocking ships each vector O(k/_PROBE_CBLK + n/_PROBE_QBLK)
    times instead, and the in-task GEMM masks non-probed (q, d) pairs,
    so the pair coverage is bit-identical."""
    import math

    import numpy as np
    import pandas as pd

    k = _quantizer_k(n_vec)
    nprobe = max(1, math.ceil(0.8 * k))
    cent = _kmeans_centroids(emb, k, n_vec=n_vec)

    e_df = emb.select("vec_id", _as_double("embedding").alias("e"))
    assigned = _centroid_probes(e_df, cent, nprobe).withColumn(
        "e",
        F.transform("e", lambda x: x / F.sqrt(dot(F.col("e"), F.col("e")))),
    )
    both = _multiprobe_blocks(assigned, n_vec)

    # single-arg signature on purpose: applyInPandas dispatches a
    # (key, pdf) call form when the callable takes two parameters
    def block_search(pdf):
        db = pdf[pdf["role"] == 0]
        qs = pdf[pdf["role"] == 1]
        if db.empty or qs.empty:
            return pd.DataFrame()
        dmat = np.array(db["e"].tolist(), dtype=np.float64)
        dids = db["vec_id"].to_numpy()
        # cid % _PROBE_CBLK: unique within a centroid block by construction
        d_local = db["cid"].to_numpy().astype(np.int64) % _PROBE_CBLK
        qmat = np.array(qs["e"].tolist(), dtype=np.float64)
        qids = qs["vec_id"].to_numpy()
        probes = qs["probes_blk"].tolist()
        tiles = []
        for lo in range(0, len(qids), _PROBE_QTILE):
            hi = min(lo + _PROBE_QTILE, len(qids))
            sims = qmat[lo:hi] @ dmat.T
            allowed = _probe_mask(probes, lo, hi)[:, d_local]
            tiles.append(reduce_tile(sims, allowed, qids[lo:hi], dids))
        return pd.DataFrame(
            {c: np.concatenate([t[c] for t in tiles]) for c in tiles[0]}
        )

    return both.groupBy("cblk", "qblk").applyInPandas(block_search, schema)


@query(
    "llm_ann_ivf_kmeans",
    oracle="""
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_queries,
           true AS recall_ok
    """,
)
def llm_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with TRAINED coarse quantizer — upgrades ``llm_ann_ivf``'s
    stride-subset centroid list to seeded Lloyd's k-means (fixed
    iterations, deterministic init, training sample capped at
    _KMEANS_TRAIN_CAP rows), the production IVF build, with the
    sublinear k = ⌈√n⌉∧4096 sizing (_quantizer_k) so assignment work
    is n·√n and driver/closure centroid state is bounded. Search:
    assign each vector its probe lists via _centroid_probes (closure
    kernel under the 8 MB budget, blocked-GEMM join above it), then
    top-1 within the probed inverted lists (shuffle on cid —
    Σ|cluster|² ≈ n^1.5 work instead of n²).

    Certificate oracle (operators/sketches.py pattern): k-means is
    iterative and not SQL-expressible, so instead of replaying the
    training the result certifies the *contract* — recall@1 vs the
    exact blocked-GEMM top-1 (``blocked_knn_candidates``, itself
    oracle-verified via llm_knn_label) must be ≥ 0.9, carried as a
    boolean alongside the query count.

    nprobe honesty: the fixture embeddings are ISOTROPIC (driver data
    has no cluster structure beyond the ~5% dup tail — gen_sf.py
    docstring), the worst case for IVF: a query's true NN is only
    weakly correlated with its Voronoi cell, and measured recall@1 at
    nprobe=1 is low. Hitting the 0.9 contract on such data needs
    nprobe ≈ 0.8·k. On real embedding corpora (clustered by
    construction) nprobe ≪ k achieves the same recall — the dataflow
    below is identical, only the constant changes; the certificate
    makes the trade measurable instead of assumed."""
    import numpy as np

    def best_cos(sims, allowed, qids, dids):
        sims[~allowed] = -np.inf
        sims[qids[:, None] == dids[None, :]] = -np.inf  # self
        best = sims.max(axis=1)
        keep = best > -np.inf
        return {"vec_id": qids[keep], "cos_ivf": best[keep]}

    emb = load(spark, sf_dir, "embeddings")
    per_list = _multiprobe_search(
        emb, emb.count(), best_cos, "vec_id BIGINT, cos_ivf DOUBLE"
    )
    ivf_top1 = per_list.groupBy("vec_id").agg(F.max("cos_ivf").alias("cos_ivf"))

    we = Window.partitionBy("vec_a").orderBy(F.col("cos_raw").desc(), F.col("vec_b"))
    exact_top1 = (
        blocked_knn_candidates(emb, 1, cache_key=sf_dir)
        .withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") == 1)
        .select(F.col("vec_a").alias("vec_id"), F.col("cos_raw").alias("cos_exact"))
    )

    # hit = IVF found a neighbor as good as the exact top-1 (cos tie-safe);
    # queries with no IVF candidate (singleton cluster) count as misses.
    hits = exact_top1.join(ivf_top1, "vec_id", "left").select(
        (F.col("cos_ivf") >= F.col("cos_exact") - 1e-9).alias("hit")
    )
    return hits.agg(
        F.count("*").cast("long").alias("n_queries"),
        (F.sum(F.when(F.col("hit"), 1).otherwise(0)) >= 0.9 * F.count("*")).alias(
            "recall_ok"
        ),
    )


_SEMDEDUP_THRESHOLD = 0.95

_SEMDEDUP_ORACLE = f"""
    WITH p AS ({_STRIDE_CTE}),
    cent AS (
      SELECT vec_id AS cid, embedding FROM embeddings, p
      WHERE vec_id % p.stride = 0
    ), assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]),
                   CAST(c.embedding AS DOUBLE[])) DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c) WHERE rn = 1
    ), dups AS (
      SELECT DISTINCT ab.vec_id
      FROM assign aa
      JOIN assign ab ON aa.cid = ab.cid AND aa.vec_id < ab.vec_id
      JOIN embeddings ea ON ea.vec_id = aa.vec_id
      JOIN embeddings eb ON eb.vec_id = ab.vec_id
      WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                         CAST(eb.embedding AS DOUBLE[])), 9)
            >= {_SEMDEDUP_THRESHOLD}
    )
    SELECT e.vec_id, (d.vec_id IS NULL) AS keep
    FROM embeddings e LEFT JOIN dups d ON e.vec_id = d.vec_id
"""


@query("llm_semdedup", oracle=_SEMDEDUP_ORACLE)
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-scoped semantic dedup — the SemDeDup pattern (Abbas et
    al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): coarse-quantize every embedding to its
    nearest centroid, then search for semantic duplicates (cosine ≥
    0.95) only WITHIN each cluster, dropping all but the lowest-id
    member of each duplicate neighborhood. The k-way cluster prune cuts
    pairwise work from O(n²) to Σ|cluster|² ≈ n²/k — the trick that
    made semantic dedup tractable on web-scale corpora.

    Spark shape: centroids are the deterministic stride subset
    (oracle-reproducible, like llm_ann_ivf; swap in _kmeans_centroids
    for trained ones — identical dataflow), assignment is
    _centroid_probes (a map-only Arrow kernel with the centroid matrix
    in the closure, under the closure budget), and the in-cluster
    search is one applyInPandas GEMM per cluster — nothing quadratic
    in n crosses the wire, only (vec_id, keep) comes back.
    Keep rule: drop b iff some cluster-mate a<b has cos(a,b) ≥ 0.95 —
    deterministic, join-free to express, and exactly replayed by the
    oracle's in-cluster pair join."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    # stride sizing keeps this collect sublinear and capped: centroids
    # are ~⌈√n⌉ rows (≤ _QUANT_K_CAP for any n), never O(n).
    stride = _centroid_stride(emb.count())
    cent_pdf = (
        emb.filter(F.col("vec_id") % stride == 0)
        .orderBy("vec_id")
        .select(_as_double("embedding").alias("e"))
        .toPandas()
    )
    cent = np.array(cent_pdf["e"].tolist(), dtype=np.float64)
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    # cid indexes the vec_id-ordered centroid rows, so argmax's
    # lowest-index tiebreak == oracle's ORDER BY cos DESC, cid
    assigned = _centroid_probes(
        emb.select("vec_id", _as_double("embedding").alias("e")), cent, 1
    ).drop("probes")

    def in_cluster_dedup(pdf):
        pdf = pdf.sort_values("vec_id", ignore_index=True)
        ids = pdf["vec_id"].to_numpy()
        mat = np.array(pdf["e"].tolist(), dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        # round before the threshold compare, matching the oracle's
        # round(..., 9): a 1-ulp GEMM-vs-DuckDB divergence on a
        # borderline pair must not flip a keep bit (repo convention:
        # round on BOTH sides)
        sims = np.round(mat @ mat.T, 9)
        dup = ((sims >= _SEMDEDUP_THRESHOLD) & (ids[:, None] < ids[None, :])).any(
            axis=0
        )
        return pd.DataFrame({"vec_id": ids, "keep": ~dup})

    return assigned.groupBy("cid").applyInPandas(
        in_cluster_dedup, "vec_id BIGINT, keep BOOLEAN"
    )


# The trained-quantizer SemDeDup uses a LOWER threshold than the stride
# key on purpose: the synthetic embeddings have no ≥0.95 pairs (max
# pairwise cosine ≈ 0.51 — llm_embed_dup docstring), so a 0.95 variant
# would certify recall over an empty dup set. 0.4 gives a real dup
# population to measure recall against.
_SEMDEDUP_KMEANS_T = 0.4


def _kmeans_multiprobe_flagged(emb: DataFrame, n_vec: int) -> DataFrame:
    """The SemDeDup-kmeans OPERATOR side, shared by the full-certificate
    key and its sampled sibling: the trained multiprobe search
    (_multiprobe_search) flagging every vec with a lower-id in-probe
    neighbor at cos ≥ _SEMDEDUP_KMEANS_T. Returns (vec_id, f=1) rows."""

    def lower_id_dup(sims, allowed, qids, dids):
        # drop q iff some LOWER-id database vector in a probed list is
        # within the semantic-dup radius (the SemDeDup keep rule)
        hit = (
            (sims >= _SEMDEDUP_KMEANS_T)
            & allowed
            & (dids[None, :] < qids[:, None])
        ).any(axis=1)
        return {"vec_id": qids[hit]}

    return (
        _multiprobe_search(emb, n_vec, lower_id_dup, "vec_id BIGINT")
        .distinct()
        .withColumn("f", F.lit(1))
    )


def _dup_certificate(truth: DataFrame, flagged: DataFrame, *counts) -> DataFrame:
    """The SemDeDup-kmeans certificate row: ``counts`` columns, then
    n_true_dups, precision_ok (no flagged vec outside the truth set)
    and recall_ok (≥ 90% of the truth set flagged), from the full
    outer join of ``truth`` (vec_id, t=1) and ``flagged`` (vec_id, f=1)."""
    merged = truth.join(flagged, "vec_id", "full")
    n_true = F.coalesce(F.sum("t"), F.lit(0))
    n_hit = F.coalesce(
        F.sum(F.when((F.col("t") == 1) & (F.col("f") == 1), 1)), F.lit(0)
    )
    n_false = F.coalesce(
        F.sum(F.when(F.col("t").isNull() & (F.col("f") == 1), 1)), F.lit(0)
    )
    return merged.agg(
        *counts,
        n_true.cast("long").alias("n_true_dups"),
        (n_false == 0).alias("precision_ok"),
        (n_hit >= 0.9 * n_true).alias("recall_ok"),
    )


@query(
    "llm_semdedup_kmeans",
    oracle=f"""
    WITH dup AS (
      SELECT DISTINCT b.vec_id
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[]))
            >= {_SEMDEDUP_KMEANS_T}
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vecs,
           (SELECT CAST(count(*) AS BIGINT) FROM dup) AS n_true_dups,
           true AS precision_ok,
           true AS recall_ok
    """,
)
def llm_semdedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the TRAINED coarse quantizer — promotes
    ``_kmeans_centroids`` from ``llm_ann_ivf_kmeans`` to the semantic
    dedup path (the production configuration; ``llm_semdedup`` keeps
    the stride quantizer as the SQL-oracle-replayable variant).

    Same multiprobe honesty as ``llm_ann_ivf_kmeans``: the fixture
    embeddings are isotropic (worst case for cluster-scoped search), so
    the query side probes its nprobe≈0.8k nearest lists while the
    database side is indexed once under its top-1 centroid — on real
    clustered corpora nprobe ≪ k with identical dataflow.

    Certificate oracle (k-means is iterative, not SQL-replayable): the
    all-pairs ground-truth dup set (every vec with a lower-id partner at
    cosine ≥ 0.4 — DuckDB computes it directly) must be recovered with
    recall ≥ 0.9, and every flagged vec must be a true dup (precision
    exactly 1 — each candidate is exactly verified in-kernel). Both
    booleans plus the true-dup count ride in the single result row.
    """
    emb = load(spark, sf_dir, "embeddings")
    n_vec = emb.count()
    flagged = _kmeans_multiprobe_flagged(emb, n_vec)
    true_dups = (
        blocked_threshold_pairs(emb, _SEMDEDUP_KMEANS_T, cache_key=sf_dir)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("t", F.lit(1))
    )
    return _dup_certificate(
        true_dups, flagged, F.lit(n_vec).cast("long").alias("n_vecs")
    )


# Sampled certificate (round-15, VERDICT r14 item 4). The parent key's
# truth tier is all-pairs — 48.5 GB scratch / most of 1,901 s at 500k
# vectors — so the certification METHOD stopped scaling a decade below
# where the operator itself does. The sampled sibling certifies the
# SAME full-corpus operator on a content-addressed QUERY sample: target
# _SEM_Q_TARGET sampled vecs (ALL vecs when n ≤ target, so the gate
# scale is the exact certificate, never vacuous), truth computed per
# sampled vec against the FULL corpus in one linear closure-GEMM pass —
# cost |sample|·n instead of n², scratch bounded by the sample. Both
# recall and precision are exact on the sample and unbiased for the
# full operator (the sample is a pure function of vec_id — the
# split_train_test idiom — so membership is coordination-free and the
# DuckDB oracle replays it bit-exactly).
_SEM_Q_TARGET = 8192
_SEM_Q_SALT = "semdedup-q-v1:"


def _sem_q_hexlit(n_vec: int) -> str:
    """4-hex-char keep threshold for the query sample: keep vec iff
    md5(salt||vec_id)[:4] < this literal. ceil keeps the expected
    sample ≥ target; n ≤ target yields '10000' which every 4-char hex
    prefix lexicographically... does NOT sort below, so callers must
    special-case i ≥ 65536 (keep all) — both engines do, identically."""
    import math

    i = math.ceil(65536 * min(1.0, _SEM_Q_TARGET / max(1, n_vec)))
    return f"{i:04x}"


def _sem_q_pred(n_vec: int) -> F.Column:
    if n_vec <= _SEM_Q_TARGET:
        return F.lit(True)
    return (
        F.substring(
            F.md5(F.concat(F.lit(_SEM_Q_SALT), F.col("vec_id").cast("string"))),
            1,
            4,
        )
        < _sem_q_hexlit(n_vec)
    )


def _sampled_truth_hits(emb: DataFrame, n_vec: int, t: float) -> DataFrame:
    """(vec_id, t=1) for every SAMPLED vec that has a lower-id partner
    at cos ≥ t anywhere in the FULL corpus — the sampled key's exact
    ground truth. The sampled queries (≤ ~_SEM_Q_TARGET rows ≈ 4 MB at
    64 dims) ride a task closure, same pattern as the stride-quantizer
    centroids; the corpus streams through one mapInPandas GEMM pass —
    linear in n, nothing quadratic materializes."""
    import numpy as np
    import pandas as pd

    q_pdf = (
        emb.filter(_sem_q_pred(n_vec))
        .select("vec_id", _as_double("embedding").alias("e"))
        .toPandas()
    )
    q_ids = q_pdf["vec_id"].to_numpy()
    q_mat = np.array(q_pdf["e"].tolist(), dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    def scan(batches, q_ids=q_ids, q_mat=q_mat):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            mat = np.array(pdf["e"].tolist(), dtype=np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            hit = np.zeros(len(q_ids), dtype=bool)
            # tile the corpus rows so the sims buffer stays ≤
            # tile × |sample| doubles (~135 MB at the 8192 target) no
            # matter the Arrow batch size
            for lo in range(0, len(ids), 2048):
                sims = mat[lo:lo + 2048] @ q_mat.T  # (tile, nq)
                hit |= (
                    (sims >= t)
                    & (ids[lo:lo + 2048, None] < q_ids[None, :])
                ).any(axis=0)
            yield pd.DataFrame({"vec_id": q_ids[hit]})

    return (
        emb.select("vec_id", _as_double("embedding").alias("e"))
        .mapInPandas(scan, "vec_id BIGINT")
        .distinct()
        .withColumn("t", F.lit(1))
    )


@query(
    "llm_semdedup_kmeans_sampled",
    oracle=f"""
    WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
    q AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings, nn
      WHERE n <= {_SEM_Q_TARGET}
         OR substring(md5('{_SEM_Q_SALT}' || CAST(vec_id AS VARCHAR)), 1, 4)
            < printf('%04x', CAST(ceil(65536 * LEAST(1.0,
                {_SEM_Q_TARGET}.0 / n)) AS INT))
    ), dup AS (
      SELECT DISTINCT q.vec_id
      FROM q JOIN embeddings a ON a.vec_id < q.vec_id
      WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), q.e)
            >= {_SEMDEDUP_KMEANS_T}
    )
    SELECT (SELECT n FROM nn) AS n_vecs,
           (SELECT CAST(count(*) AS BIGINT) FROM q) AS n_sampled,
           (SELECT CAST(count(*) AS BIGINT) FROM dup) AS n_true_dups,
           true AS precision_ok,
           true AS recall_ok
    """,
)
def llm_semdedup_kmeans_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``llm_semdedup_kmeans``'s 100 TB certification path: the SAME
    full-corpus operator (trained quantizer + blocked multiprobe +
    in-task verify), certified on a content-addressed query sample
    instead of the all-pairs truth. Per sampled vec the exact dup bit
    (lower-id partner at cos ≥ 0.4 anywhere in the corpus) comes from
    one linear closure-GEMM pass, so truth cost is |sample|·n and
    scratch is bounded by the flagged/sample relations — at 5M vectors
    the parent's certificate needs ~30 min and ~50 GB of scratch for
    truth alone, the sampled one ~4e10 BLAS flops and megabytes.
    Recall ≥ 0.9 and precision == 1 are required on the sample exactly
    as the parent requires on the population; at n ≤ {_SEM_Q_TARGET}
    the sample IS the population, so the driver-gate-scale check is the
    exact certificate, never a vacuous one."""
    emb = load(spark, sf_dir, "embeddings")
    n_vec = emb.count()
    flagged = _kmeans_multiprobe_flagged(emb, n_vec)
    q_flagged = flagged.filter(_sem_q_pred(n_vec))
    truth = _sampled_truth_hits(emb, n_vec, _SEMDEDUP_KMEANS_T)
    n_sampled = emb.filter(_sem_q_pred(n_vec)).count()
    return _dup_certificate(
        truth,
        q_flagged,
        F.lit(n_vec).cast("long").alias("n_vecs"),
        F.lit(n_sampled).cast("long").alias("n_sampled"),
    )


# ---------------------------------------------------------------------------
# Product quantization ANN (PQ/ADC) — the memory-bound scale path
# ---------------------------------------------------------------------------

_PQ_M = 8        # subspaces (64-dim -> 8 x 8)
_PQ_D = 8        # dims per subspace
_PQ_K = 16       # centroids per subspace codebook (4-bit codes)
_PQ_ANCHOR_MOD = 5   # codebook anchors: 16 smallest vec_id = 3 (mod 5)
_PQ_QUERY_MOD = 97   # query-set spread: vec_id = 0 (mod 97) …
# … capped at a fixed SIZE. A mod filter alone is a fixed FRACTION —
# the certificate's query×corpus probes (exact truth, ADC scan) would
# grow as n²/97 with the corpus (round-11 sf10 rehearsal: 200k vectors
# → 2062 queries → 412M decimal dots, >15 min on 32 cores). The cap
# binds only above n≈25k (sf1 has 206 queries), so results at every
# attested scale are unchanged, and cost above that is 256·n — linear.
_PQ_QUERY_LIMIT = 256


def _capped_query_set(df: DataFrame, mod: int, limit: int) -> DataFrame:
    """The fixed-SIZE query set of the PQ certificate and hard-negative
    mining: rows with vec_id ≡ 0 (mod ``mod``), the ``limit`` smallest
    by vec_id — the oracles' ``WHERE vec_id % mod = 0 ORDER BY vec_id
    LIMIT limit``."""
    return df.filter(F.col("vec_id") % mod == 0).orderBy("vec_id").limit(limit)


def _exact_int_scores(mat, q_mat):
    """The exact inner-product score of every (row, query) pair:
    Σ floor(x·y·1e9 + 0.5) over the dims, summed in int64 — an
    (len(mat), len(q_mat)) matrix. Every operation is a single
    correctly-rounded IEEE double op (multiply, multiply, add, floor)
    with no decimal anywhere, so numpy computes the bit-exact integers
    DuckDB's ``CAST(floor(x[1] * x[2] * 1000000000 + 0.5) AS BIGINT)``
    does (the PQ and hard-negative oracles), and the sum is order-free
    because integer addition commutes. 256-row tiles bound the
    (tile × |q| × dim) broadcast product to ~34 MB at 256 queries."""
    import numpy as np

    scores = np.empty((len(mat), len(q_mat)), dtype=np.int64)
    for lo in range(0, len(mat), 256):
        t = mat[lo:lo + 256, None, :] * q_mat[None, :, :]
        t *= 1e9
        t += 0.5
        np.floor(t, out=t)
        scores[lo:lo + 256] = t.sum(axis=2, dtype=np.int64)
    return scores


# Decimal-exact kernels: every per-dim float op is a SINGLE IEEE double
# op (identical in both engines), immediately rounded to 9 decimals and
# cast to DECIMAL — all subsequent sums are exact-decimal and therefore
# independent of summation order (Spark's groupBy partial aggregation
# order never changes the value-hash).
# Accumulator precision matters: DECIMAL(38,9) + DECIMAL(20,9) needs
# precision 39, so Spark's overflow rule silently DROPS the scale to 8
# (a real 1e-8-level divergence caught by the sf1 oracle sweep); a
# (28,9) accumulator keeps the addition at precision 29 — exact, full
# scale, and identical to DuckDB's list_sum.
_DEC_SQDIST = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "CAST(round((x - y) * (x - y), 9) AS DECIMAL(20,9))), "
    "CAST(0 AS DECIMAL(28,9)), (acc, z) -> CAST(acc + z AS DECIMAL(28,9)))"
)
_DEC_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "CAST(round(x * y, 9) AS DECIMAL(20,9))), "
    "CAST(0 AS DECIMAL(28,9)), (acc, z) -> CAST(acc + z AS DECIMAL(28,9)))"
)

_PQ_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), anch AS (
      SELECT vec_id AS cid, e FROM e
      WHERE vec_id % {_PQ_ANCHOR_MOD} = 3 ORDER BY vec_id LIMIT {_PQ_K}
    ), sgrid AS (SELECT s FROM range({_PQ_M}) t(s)
    ), codebook AS (
      SELECT a.cid, g.s,
             list_slice(a.e, g.s * {_PQ_D} + 1, g.s * {_PQ_D} + {_PQ_D}) AS cs
      FROM anch a, sgrid g
    ), subv AS (
      SELECT v.vec_id, g.s,
             list_slice(v.e, g.s * {_PQ_D} + 1, g.s * {_PQ_D} + {_PQ_D}) AS vs
      FROM e v, sgrid g
    ), enc0 AS (
      SELECT sv.vec_id, sv.s, cb.cid,
             list_sum(list_transform(list_zip(sv.vs, cb.cs),
               x -> CAST(ROUND((x[1] - x[2]) * (x[1] - x[2]), 9)
                         AS DECIMAL(20,9)))) AS sqd
      FROM subv sv JOIN codebook cb ON cb.s = sv.s
    ), codes AS (
      SELECT vec_id, s, cid FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, s ORDER BY sqd, cid) AS rn
        FROM enc0) WHERE rn = 1
    ), q AS (
      SELECT vec_id AS qid, e AS qe FROM e
      WHERE vec_id % {_PQ_QUERY_MOD} = 0
      ORDER BY vec_id LIMIT {_PQ_QUERY_LIMIT}
    ), qsub AS (
      SELECT q.qid, g.s,
             list_slice(q.qe, g.s * {_PQ_D} + 1, g.s * {_PQ_D} + {_PQ_D}) AS qs
      FROM q, sgrid g
    ), lut AS (
      SELECT qs.qid, qs.s, cb.cid,
             list_sum(list_transform(list_zip(qs.qs, cb.cs),
               x -> CAST(ROUND(x[1] * x[2], 9) AS DECIMAL(20,9)))) AS d
      FROM qsub qs JOIN codebook cb ON cb.s = qs.s
    ), adc AS (
      SELECT l.qid, c.vec_id, SUM(l.d) AS ascore
      FROM codes c JOIN lut l ON l.s = c.s AND l.cid = c.cid
      WHERE c.vec_id <> l.qid GROUP BY l.qid, c.vec_id
    ), approx AS (
      SELECT qid, vec_id AS nn_id, ascore,
             row_number() OVER (
               PARTITION BY qid ORDER BY ascore DESC, vec_id) AS rk
      FROM adc
    ), exact0 AS (
      SELECT q.qid, v.vec_id,
             list_sum(list_transform(list_zip(q.qe, v.e),
               x -> CAST(floor(x[1] * x[2] * 1000000000 + 0.5)
                         AS BIGINT))) AS score
      FROM q, e v WHERE v.vec_id <> q.qid
    ), exact AS (
      SELECT qid, vec_id, row_number() OVER (
        PARTITION BY qid ORDER BY score DESC, vec_id) AS ek
      FROM exact0
    ), hits AS (
      SELECT a.qid, a.rk, a.nn_id, a.ascore,
             (x.vec_id IS NOT NULL) AS in_exact10
      FROM approx a LEFT JOIN (
        SELECT qid, vec_id FROM exact WHERE ek <= 10) x
        ON x.qid = a.qid AND x.vec_id = a.nn_id
      WHERE a.rk <= 10
    )
    SELECT qid AS query_id, rk, nn_id,
           CAST(ascore AS DOUBLE) AS ascore, in_exact10,
           CAST(SUM(CASE WHEN in_exact10 THEN 1 ELSE 0 END)
                OVER (PARTITION BY qid) AS DOUBLE) / 10 AS recall10
    FROM hits
"""


def _pq_sub_explode(df, vec_col, out_col):
    """Explode a (…, e) frame into per-subspace rows (…, s, out_col):
    one Generate over a literal _PQ_M-element struct array — no shuffle,
    rides the scan."""
    pieces = F.array(*[
        F.struct(
            F.lit(s).alias("s"),
            F.slice(vec_col, s * _PQ_D + 1, _PQ_D).alias(out_col),
        )
        for s in range(_PQ_M)
    ])
    return df.select(
        *[c for c in df.columns if c != "e"],
        F.explode(pieces).alias("p"),
    ).select(
        *[c for c in df.columns if c != "e"],
        F.col("p.s").alias("s"),
        F.col(f"p.{out_col}").alias(out_col),
    )


def _top10_per_query(q_ids, ids, score_of, cols):
    """One Arrow batch's local top-10 per query under the global
    (score DESC, id) order, self excluded, as a (qid, id, score) frame
    with column names ``cols``; ``score_of(j)`` is query j's int64
    score per batch row. A global winner is necessarily a batch-local
    winner, so a window over the ≤ 10·#batches rows per query merges
    the batches exactly."""
    import numpy as np
    import pandas as pd

    out = ([], [], [])
    for j in range(len(q_ids)):
        sel = ids != q_ids[j]
        sids, sc = ids[sel], score_of(j)[sel]
        top = np.lexsort((sids, -sc))[:10]
        out[0].append(np.full(len(top), q_ids[j], dtype=np.int64))
        out[1].append(sids[top])
        out[2].append(sc[top])
    return pd.DataFrame({c: np.concatenate(v) for c, v in zip(cols, out)})


def _pq_anchor_codebook(e: DataFrame) -> DataFrame:
    """The untrained (s, cid, cs) codebook: the subvectors of the _PQ_K
    smallest vec_ids ≡ 3 (mod _PQ_ANCHOR_MOD) — the oracle's anch CTE."""
    anch = e.filter(F.col("vec_id") % _PQ_ANCHOR_MOD == 3).orderBy(
        "vec_id"
    ).limit(_PQ_K)
    return _pq_sub_explode(
        anch.select(F.col("vec_id").alias("cid"), "e"), F.col("e"), "cs"
    )


def _pq_exact_top10(e: DataFrame) -> DataFrame:
    """The exact inner-product top-10 per query — the certificate's
    ground truth. Depends only on the corpus, not on any codebook, so
    an A/B key computes it ONCE and passes it to both _pq_search calls.

    Round-15 (VERDICT r14 item 7): the profile probe measured this tier
    at **322.5 of llm_ann_pq's 323 s** over 500k vectors — the "slow
    ADC" was never the ADC. The old shape evaluated the per-pair dot as
    a zip_with/aggregate expression whose per-term ROUND(x·y, 9) +
    DECIMAL cast each allocate a java.math.BigDecimal: 128M pairs × 64
    terms × ~3 allocations. Now the score is _exact_int_scores, in
    numpy, and each Arrow batch emits only its per-query local top-10
    (_top10_per_query) for a tiny window to merge."""
    import numpy as np

    q_pdf = _capped_query_set(e, _PQ_QUERY_MOD, _PQ_QUERY_LIMIT).toPandas()
    q_ids = q_pdf["vec_id"].to_numpy()
    q_mat = np.array(q_pdf["e"].tolist(), dtype=np.float64)

    def scan(batches, q_ids=q_ids, q_mat=q_mat):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            scores = _exact_int_scores(
                np.array(pdf["e"].tolist(), dtype=np.float64), q_mat
            )
            yield _top10_per_query(
                q_ids, ids, lambda j: scores[:, j], ("qid", "vec_id", "score")
            )

    # spread the corpus first: the fixture parquet arrives in 1-2 scan
    # partitions and the kernel is CPU-bound (the calibration-tier
    # repartition lesson)
    cand = spread_to_cores(e.select("vec_id", "e")).mapInPandas(
        scan, "qid BIGINT, vec_id BIGINT, score BIGINT"
    )
    w_ek = Window.partitionBy("qid").orderBy(F.col("score").desc(), "vec_id")
    # explicit x_qid alias: both sides of the downstream join descend
    # from the same scan, so without distinct attribute names Spark
    # falls back to its ambiguous-self-join heuristic ("trivially true
    # equals predicate" warning) — fragile across versions. Distinct
    # names make the condition unambiguous by construction.
    return (
        cand.withColumn("ek", F.row_number().over(w_ek))
        .filter(F.col("ek") <= 10)
        .select(F.col("qid").alias("x_qid"), F.col("vec_id").alias("x_id"))
    )


def _pq_search(
    e: DataFrame, codebook: DataFrame, exact10: DataFrame | None = None
) -> DataFrame:
    """The PQ/ADC dataflow shared by the anchor- and trained-codebook
    keys: encode every vector to its per-subspace nearest centroid
    (broadcast codebook, decimal-exact sqdist), build each query's
    lookup table (broadcast), score candidates by summing _PQ_M LUT
    entries (partial-aggregated), rank top-10, and annotate each hit
    with membership in the EXACT inner-product top-10 plus per-query
    recall@10. ``codebook`` is (s, cid, cs) — its provenance (anchor
    rows or trained centroids) is the only thing the two keys differ
    in. ``exact10`` lets an A/B caller reuse one ground-truth ranking
    across both searches (it is codebook-independent)."""
    # Two broadcast fan-outs dominate this dataflow at scale: encode
    # (|corpus|·m rows × k codebook entries) and ADC scoring (codes ×
    # |queries| LUT rows). Both stream a relation that arrives in 1-2
    # partitions (scan partitioning, or an AQE-coalesced exchange whose
    # map-side size is small precisely because codes are 64x smaller
    # than vectors — AQE is blind to the fan-out). Round-robin
    # repartitions spread the multiplied work across the cluster; at
    # sf1 this took the engine side from ~320s to task-parallel. The
    # corpus side is a narrow map over the scan, so spread_to_cores
    # skips it once the scan has a split per core; the codes side is an
    # aggregate's output and always round-robins.
    par = e.sparkSession.sparkContext.defaultParallelism
    subv = spread_to_cores(_pq_sub_explode(e, F.col("e"), "vs"))
    enc0 = subv.join(F.broadcast(codebook), "s").withColumn(
        "sqd", F.expr(_DEC_SQDIST.format(a="vs", b="cs"))
    )
    # nearest centroid per (vec_id, s): struct-min is lexicographic on
    # (sqd, cid) — identical to the previous row_number-over-(sqd, cid)
    # pick, but a map-side-combinable hash aggregate instead of a full
    # sort-window over |corpus|·m·k rows (round-13, half the sf10 cost)
    codes = (
        enc0.groupBy("vec_id", "s")
        .agg(F.min(F.struct("sqd", "cid")).alias("mn"))
        .select("vec_id", "s", F.col("mn.cid").alias("cid"))
    )

    q = _capped_query_set(e, _PQ_QUERY_MOD, _PQ_QUERY_LIMIT).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    qsub = _pq_sub_explode(
        q.withColumnRenamed("qe", "e"), F.col("e"), "qs"
    )
    lut = qsub.join(F.broadcast(codebook), "s").select(
        "qid", "s", "cid", F.expr(_DEC_DOT.format(a="qs", b="cs")).alias("d")
    )

    # ADC as an array-indexed LUT sum (round-13): the former shape
    # joined the per-subspace code rows against the broadcast LUT on
    # (s, cid) and hash-aggregated the m-way fan-out back down — at
    # sf10 that is |corpus|·m·|q| = 410M joined rows feeding a 51M-group
    # aggregate, and it measured 384 s. A real ADC scan is an indexed
    # table walk, not a join: pack each vector's m codes into ONE array
    # row, pack each query's LUT into ONE dense array of m·k entries
    # (indexed s·k + dense-cid), broadcast the |q| LUT rows, and score
    # each (vector, query) pair with an m-term element_at sum in
    # codegen — |corpus|·|q| rows total, m× fewer, no re-aggregation.
    # Codebook cids are anchor vec_ids (arbitrary bigints), so a 16-row
    # broadcast maps them to dense 0..k-1 slots first. The lambda only
    # references COLUMNS (code, tbl) — no inline expression re-evaluated
    # per element (the round-12 HOF-CSE trap).
    kk = F.lit(_PQ_K)
    dense = (
        codebook.select("cid")
        .distinct()
        .withColumn(
            "dcid", F.row_number().over(Window.orderBy("cid")) - 1
        )
    )
    codes_arr = (
        codes.join(F.broadcast(dense), "cid")
        .groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("s", "dcid"))).alias("sc"))
        .select(
            "vec_id",
            F.transform("sc", lambda x: x["dcid"]).alias("code"),
        )
    )
    lut_arr = (
        lut.join(F.broadcast(dense), "cid")
        .groupBy("qid")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (F.col("s") * kk + F.col("dcid")).alias("i"), "d"
                    )
                )
            ).alias("t")
        )
        .select("qid", F.transform("t", lambda x: x["d"]).alias("tbl"))
    )
    # ADC scan as a numpy LUT gather (round-15, completing the item-7
    # profile fix): the expression form — codes crossJoin broadcast
    # LUT, 8-term element_at sum, then a GLOBAL per-query window sort
    # over |corpus|·|q| rows — measured ~53 s of the 78 s post-truth-fix
    # wall at 500k, and the cost was the row machinery + 128M-row sort,
    # not arithmetic. The |q|·m·k LUT matrix is ~256 KB — it rides a
    # task closure; each Arrow batch gathers its scores with one int64
    # fancy-index per query and emits only its batch-local top-10
    # (_top10_per_query, as _pq_exact_top10 does), so the final window
    # touches ≤ 10·#batches rows per query. LUT
    # values are DECIMAL(28,9) sums of 1e-9-unit terms, so
    # Decimal.scaleb(9) turns each into its exact int64 unit count.
    import numpy as np

    lut_pdf = lut_arr.toPandas()
    q_ids_np = lut_pdf["qid"].to_numpy()
    tblm = np.array(
        [[int(d.scaleb(9)) for d in row] for row in lut_pdf["tbl"]],
        dtype=np.int64,
    )
    m_offsets = (np.arange(_PQ_M, dtype=np.int64) * _PQ_K)[None, :]

    def adc_scan(batches, q_ids=q_ids_np, tblm=tblm):
        for pdf in batches:
            codes_m = np.array(pdf["code"].tolist(), dtype=np.int64)
            flat = codes_m + m_offsets  # (B, m) flat LUT indices
            yield _top10_per_query(
                q_ids,
                pdf["vec_id"].to_numpy(),
                lambda j: tblm[j][flat].sum(axis=1, dtype=np.int64),
                ("qid", "nn_id", "ascore"),
            )

    adc = codes_arr.repartition(par).mapInPandas(
        adc_scan, "qid BIGINT, nn_id BIGINT, ascore BIGINT"
    )
    w_rk = Window.partitionBy("qid").orderBy(F.col("ascore").desc(), "nn_id")
    approx = (
        adc.withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= 10)
    )

    if exact10 is None:
        exact10 = _pq_exact_top10(e)
    hits = approx.join(
        exact10,
        (F.col("qid") == F.col("x_qid")) & (F.col("nn_id") == F.col("x_id")),
        "left",
    ).select(
        "qid",
        "rk",
        "nn_id",
        "ascore",
        F.col("x_id").isNotNull().alias("in_exact10"),
    )
    w_q = Window.partitionBy("qid")
    # scaled-long → double: the long is the exact count of 1e-9 units
    # and stays ≪ 2^53, so long/1e9 is the correctly-rounded double of
    # the exact value — identical to DECIMAL(…,9) → DOUBLE
    ascore_out = F.col("ascore") / F.lit(1_000_000_000.0)
    return hits.select(
        F.col("qid").alias("query_id"),
        "rk",
        "nn_id",
        ascore_out.alias("ascore"),
        "in_exact10",
        (
            F.sum(F.when(F.col("in_exact10"), 1).otherwise(0)).over(w_q)
            .cast("double") / 10
        ).alias("recall10"),
    )


@query("llm_ann_pq", oracle=_PQ_ORACLE)
def llm_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC), maximum-inner-product flavor: 64-dim vectors are split into
    8 subspaces, each subvector quantized (L2) to one of 16 codebook
    centroids — a 4-bit-per-subspace code, 64x smaller than the float
    vector — and queries score candidates by summing 8 lookup-table
    dot products instead of touching raw vectors. Top-10 per query,
    with an in-result recall@10 certificate against the exact
    inner-product ranking.

    The 100 TB story PQ exists for: the corpus side of the search
    touches ONLY the 8-byte codes (petabyte of floats -> ~16 TB of
    codes), the per-query LUT is q x 128 tiny rows broadcast, and the
    scan is one linear pass + a partial-aggregated sum — no shuffle
    carries raw vectors. Codebooks here are deterministic anchor
    subvectors (oracle-reproducible, same dataflow as trained ones —
    swap in _kmeans_centroids per subspace for production). All
    distance sums are round-then-DECIMAL so partial-aggregation order
    can never flip a rank (the convention ADVICE.md round-4 asked for
    on borderline cosine compares).

    Honest certificate note: on this ISOTROPIC random fixture recall@10
    is ~0.1-0.3 — the known worst case for PQ (no subspace cluster
    structure, anchor codebooks untrained). Real embedding corpora are
    low-rank/clustered and trained codebooks recover 0.8+; the
    certificate column exists precisely to surface that gap rather
    than hide it (same convention as llm_ann_ivf_kmeans's nprobe
    analysis)."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("e"))
    return _pq_search(e, _pq_anchor_codebook(e))


def _pq_trained_codebook(spark: SparkSession, e: DataFrame) -> DataFrame:
    """Per-subspace Lloyd's-trained PQ codebooks: _PQ_M independent
    k-means runs (K=_PQ_K, 8 fixed iterations, exact float64) over a
    DETERMINISTIC training sample (vec_id % stride == 0, ≤
    _KMEANS_TRAIN_CAP rows — the quantizer is a sketch of the
    distribution, so training cost is corpus-size-independent; the
    standard sample-train/full-encode split every PQ system makes).
    Init = the first _PQ_K sampled subvectors by vec_id; empty clusters
    keep their previous centroid; centroids round to 9 decimals before
    shipping so the decimal ADC kernels see identical inputs on every
    run. Returns the (s, cid, cs) frame _pq_search broadcasts —
    k·m·d ≈ 1 k doubles on the driver, never anything that grows with
    the corpus."""
    import numpy as np

    n_vec = e.count()
    samp_mod = _train_sample_mod(n_vec)
    samp = (
        e.filter(F.col("vec_id") % samp_mod == 0)
        .orderBy("vec_id")
        .limit(_KMEANS_TRAIN_CAP)
    )
    X = np.array(samp.select("e").toPandas()["e"].tolist(), dtype=np.float64)
    rows = []
    for s in range(_PQ_M):
        sub = X[:, s * _PQ_D : (s + 1) * _PQ_D]
        cent = sub[: _PQ_K].copy()
        for _ in range(8):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(cent.shape[0]):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(0)
        rows += [
            (s, c, [round(float(x), 9) for x in cent[c]])
            for c in range(cent.shape[0])
        ]
    return spark.createDataFrame(rows, "s INT, cid BIGINT, cs ARRAY<DOUBLE>")


_PQ_TRAINED_RECALL_FLOOR = 0.05


@query(
    "llm_ann_pq_trained",
    oracle=f"""
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM (
              SELECT vec_id FROM embeddings
              WHERE vec_id % {_PQ_QUERY_MOD} = 0
              ORDER BY vec_id LIMIT {_PQ_QUERY_LIMIT})) AS n_queries,
           (SELECT CAST(count(*) AS BIGINT) FROM (
              SELECT vec_id FROM embeddings
              WHERE vec_id % {_PQ_QUERY_MOD} = 0
              ORDER BY vec_id LIMIT {_PQ_QUERY_LIMIT})) * 10 AS n_rows,
           true AS gain_ok,
           true AS recall_floor_ok
    """,
)
def llm_ann_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC with TRAINED per-subspace codebooks — the production
    configuration ``llm_ann_pq``'s docstring promises, now MEASURED
    instead of asserted. Identical dataflow (_pq_search: broadcast
    codebook encode, broadcast LUT, code-only linear scan, top-10); the
    only change is codebook provenance: Lloyd's-trained centroids in
    place of untrained anchor rows.

    Certificate oracle (k-means is iterative, not SQL-replayable) — a
    same-data A/B: the key runs BOTH searches and asserts
    (1) ``gain_ok``: trained mean recall@10 ≥ the untrained-anchor
    recall on the same corpus — the "training helps" claim as a
    checked boolean (measured margins, all scales: 0.233/0.183 at
    sf0.001, 0.300/0.217 at sf0.01, 0.190/0.114 at sf0.1, 0.092/0.053
    at sf1rv — SCALE.md round-7; both searches are deterministic, so
    the boolean is stable per fixture);
    (2) ``recall_floor_ok``: trained recall ≥ {_PQ_TRAINED_RECALL_FLOOR}
    (sanity floor under the whole observed band);
    (3) every query present (n_queries) with exactly 10 hits — n_rows
    counts the search's ACTUAL result rows (summed per query before any
    dedup), so a search that drops or duplicates a candidate breaks the
    n_queries*10 oracle equality.
    Recall is low in absolute terms because the fixture is ISOTROPIC —
    the documented PQ worst case; clustered real corpora sit far
    higher. The exact-ranking crossJoin lives in _pq_search and is the
    certificate's ground truth, test-scale-only by construction."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("e"))
    cb_anchor = _pq_anchor_codebook(e)
    cb_trained = _pq_trained_codebook(spark, e)
    exact10 = _pq_exact_top10(e)

    def mean_recall(hits: DataFrame, col: str) -> DataFrame:
        # per-query first, so n_rows counts ACTUAL hit rows (a search
        # that dropped or duplicated a candidate shifts the sum) while
        # the recall average still weights every query equally
        per_q = hits.groupBy("query_id").agg(
            F.count("*").alias("nh"), F.max("recall10").alias("r")
        )
        return per_q.agg(
            F.avg("r").alias(col),
            F.count("*").cast("long").alias(f"nq_{col}"),
            F.sum("nh").cast("long").alias(f"nr_{col}"),
        )

    t = mean_recall(_pq_search(e, cb_trained, exact10), "r_trained")
    a = mean_recall(_pq_search(e, cb_anchor, exact10), "r_anchor")
    return t.crossJoin(F.broadcast(a)).select(
        F.col("nq_r_trained").alias("n_queries"),
        F.col("nr_r_trained").alias("n_rows"),
        (F.col("r_trained") >= F.col("r_anchor")).alias("gain_ok"),
        (F.col("r_trained") >= _PQ_TRAINED_RECALL_FLOOR).alias(
            "recall_floor_ok"
        ),
    )


@query(
    "llm_embed_quantize_int8",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), stats AS (
      SELECT vec_id, e,
             list_min(e) AS lo, list_max(e) AS hi
      FROM e
    ), q AS (
      SELECT vec_id,
             list_transform(e, x -> CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
               ELSE CAST(ROUND(
                 CAST(ROUND((x - lo) * 255 / (hi - lo), 9) AS DECIMAL(18,9)),
                 0) AS BIGINT) END) AS codes,
             lo, hi
      FROM stats
    )
    SELECT vec_id,
           CAST(list_sum(codes) AS BIGINT) AS qsum,
           CAST(list_min(codes) AS BIGINT) AS qmin,
           CAST(list_max(codes) AS BIGINT) AS qmax,
           ROUND(lo, 6) AS lo, ROUND(hi, 6) AS hi
    FROM q
    """,
)
def llm_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 (asymmetric min/max) quantization of the
    embedding column — the 4x storage/bandwidth cut every
    vector-serving layer applies before ANN search. Each dim maps to
    round((x - lo) * 255 / (hi - lo)); codes 0..255 plus the two
    float scale anchors reconstruct x to within half a step. The
    quantization ratio is rounded to 9 decimals and cast DECIMAL
    BEFORE the final integer round, so the code assignment is
    identical across engines (the repo's round-then-DECIMAL boundary
    convention). Map-only — no shuffle at all: quantization fuses
    into the scan, and downstream ANN (llm_ann_pq) consumes the
    codes. Output certifies per-vector code stats + anchors."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("e"))
    stats = e.select(
        "vec_id",
        "e",
        F.array_min("e").alias("lo"),
        F.array_max("e").alias("hi"),
    )
    # degenerate-range guard (hi == lo, i.e. a constant vector): the
    # 0/0 ratio is engine-divergent (Spark non-ANSI Divide -> NULL,
    # DuckDB -> NaN), so BOTH sides pin the code to 0 explicitly.
    codes = F.transform(
        F.col("e"),
        lambda x: F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long"))
        .otherwise(
            F.round(
                F.round(
                    (x - F.col("lo")) * 255 / (F.col("hi") - F.col("lo")), 9
                ).cast("decimal(18,9)"),
                0,
            ).cast("long")
        ),
    )
    q = stats.select("vec_id", codes.alias("codes"), "lo", "hi")
    return q.select(
        "vec_id",
        F.aggregate(
            "codes", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("qsum"),
        F.array_min("codes").alias("qmin"),
        F.array_max("codes").alias("qmax"),
        F.round("lo", 6).alias("lo"),
        F.round("hi", 6).alias("hi"),
    )


_HN_ANCHOR_MOD = 97  # anchor spread: vec_id = 0 (mod 97) …
# … capped at a fixed SIZE (same reasoning as _PQ_QUERY_LIMIT: a mod
# filter alone is a fixed fraction, so the anchor×corpus probe would
# scale quadratically; the cap binds only above n≈25k, leaving every
# attested scale bit-identical while sf10+ stays linear at 256·n).
_HN_ANCHOR_LIMIT = 256

_HARD_NEG_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), anchors AS (
      SELECT vec_id AS aid, label AS alabel, e AS ae FROM e
      WHERE vec_id % {_HN_ANCHOR_MOD} = 0
      ORDER BY vec_id LIMIT {_HN_ANCHOR_LIMIT}
    ), pos AS (
      SELECT a.aid, v.vec_id,
             list_sum(list_transform(list_zip(a.ae, v.e),
               x -> CAST(floor(x[1] * x[2] * 1000000000 + 0.5)
                         AS BIGINT))) AS score
      FROM anchors a JOIN e v
        ON v.label = a.alabel AND v.vec_id <> a.aid
    ), neg AS (
      SELECT a.aid, a.alabel, v.vec_id, v.label,
             list_sum(list_transform(list_zip(a.ae, v.e),
               x -> CAST(floor(x[1] * x[2] * 1000000000 + 0.5)
                         AS BIGINT))) AS score
      FROM anchors a JOIN e v ON v.label <> a.alabel
    ), best_pos AS (
      SELECT aid, vec_id AS pos_id, score AS pos_score FROM (
        SELECT *, row_number() OVER (
          PARTITION BY aid ORDER BY score DESC, vec_id) AS rn FROM pos)
      WHERE rn = 1
    ), best_neg AS (
      SELECT aid, alabel, vec_id AS neg_id, label AS neg_label,
             score AS neg_score
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY aid ORDER BY score DESC, vec_id) AS rn FROM neg)
      WHERE rn = 1
    )
    SELECT p.aid AS anchor_id, n.alabel AS anchor_label,
           p.pos_id,
           CAST(p.pos_score AS DOUBLE) / 1000000000 AS pos_score,
           n.neg_id, n.neg_label,
           CAST(n.neg_score AS DOUBLE) / 1000000000 AS neg_score,
           CAST(p.pos_score - n.neg_score AS DOUBLE) / 1000000000 AS margin
    FROM best_pos p JOIN best_neg n ON p.aid = n.aid
"""


@query("llm_hard_negative_mining", oracle=_HARD_NEG_ORACLE)
def llm_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the most-similar SAME-label vector (hardest positive) and the
    most-similar DIFFERENT-label vector (hardest negative), plus the
    margin between them — the triplet-selection pass that decides
    contrastive batch quality. The anchor set is a deterministic
    sliver (mod-97 spread, capped at ``_HN_ANCHOR_LIMIT`` so it is a
    fixed SIZE, not a fixed fraction), broadcast against the corpus,
    so the scan is one map-side pass per side with a per-anchor argmax
    window — candidates never materialize beyond (anchor x corpus)
    rows with 8-byte scores. Scores are exact integers
    (_exact_int_scores): the argmax (and therefore the mined triplet)
    cannot flip on summation order. At 100 TB the corpus side routes through the LSH/IVF
    candidate generators first (llm_ann_lsh / llm_ann_ivf) — mining
    only probes bucket-mates, same gate as every pairwise kernel
    here.

    Round-15: the anchor×corpus scoring is the same shape the item-7
    profile caught in _pq_exact_top10 — a crossJoin evaluating a
    64-term decimal expression per pair (at 500k: 128M pairs × 64
    BigDecimal-allocating terms). Same fix: scores are
    _exact_int_scores, the 256-anchor matrix rides a task closure, and
    each Arrow batch emits only its local best positive and best
    negative per anchor under the global (score DESC, vec_id) order —
    the downstream windows rank ≤ 2·#batches candidates per anchor."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", _as_double("embedding").alias("e"))
    a_pdf = _capped_query_set(e, _HN_ANCHOR_MOD, _HN_ANCHOR_LIMIT).toPandas()
    a_ids = a_pdf["vec_id"].to_numpy()
    a_labels = a_pdf["label"].to_numpy()
    a_mat = np.array(a_pdf["e"].tolist(), dtype=np.float64)

    def scan(batches, a_ids=a_ids, a_labels=a_labels, a_mat=a_mat):
        for pdf in batches:
            vids = pdf["vec_id"].to_numpy()
            labels = pdf["label"].to_numpy()
            scores = _exact_int_scores(
                np.array(pdf["e"].tolist(), dtype=np.float64), a_mat
            )
            rows: list[tuple] = []
            for j in range(len(a_ids)):
                same = labels == a_labels[j]
                for sel in (same & (vids != a_ids[j]), ~same):
                    if not sel.any():
                        continue
                    svids, sc = vids[sel], scores[sel, j]
                    slab = labels[sel]
                    top = np.lexsort((svids, -sc))[0]
                    rows.append(
                        (
                            int(a_ids[j]),
                            int(a_labels[j]),
                            int(svids[top]),
                            int(slab[top]),
                            int(sc[top]),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["aid", "alabel", "vec_id", "label", "score"]
            )

    scored = spread_to_cores(e).mapInPandas(
        scan, "aid BIGINT, alabel INT, vec_id BIGINT, label INT, score BIGINT"
    )
    pos = scored.filter(
        (F.col("label") == F.col("alabel")) & (F.col("vec_id") != F.col("aid"))
    )
    neg = scored.filter(F.col("label") != F.col("alabel"))
    w = Window.partitionBy("aid").orderBy(F.col("score").desc(), "vec_id")
    best_pos = (
        pos.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "aid",
            F.col("vec_id").alias("pos_id"),
            F.col("score").alias("pos_score"),
        )
    )
    best_neg = (
        neg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "aid",
            F.col("alabel").alias("anchor_label"),
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            F.col("score").alias("neg_score"),
        )
    )
    scale = F.lit(1_000_000_000.0)
    return best_pos.join(best_neg, "aid").select(
        F.col("aid").alias("anchor_id"),
        "anchor_label",
        "pos_id",
        (F.col("pos_score") / scale).alias("pos_score"),
        "neg_id",
        "neg_label",
        (F.col("neg_score") / scale).alias("neg_score"),
        ((F.col("pos_score") - F.col("neg_score")).cast("double") / scale)
        .alias("margin"),
    )


@query(
    "llm_embedding_norm_audit",
    oracle="""
    WITH norms AS (
      SELECT label,
             len(embedding) AS dim,
             sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                          x -> x * x))) AS nrm
      FROM embeddings
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN dim = 64 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_bad_dim,
           CAST(SUM(CASE WHEN nrm < 1e-12 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_norm,
           CAST(ROUND(MIN(nrm), 4) AS DOUBLE) AS min_norm,
           CAST(ROUND(AVG(nrm), 4) AS DOUBLE) AS avg_norm,
           CAST(ROUND(MAX(nrm), 4) AS DOUBLE) AS max_norm
    FROM norms GROUP BY label
    """,
)
def llm_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table health audit — the DQ gate an ANN/semantic-dedup
    pipeline runs BEFORE indexing: per label, the vector count,
    wrong-dimension count, zero-norm count (cosine is undefined on
    them; llm_embed_quantize_int8's degenerate-range guard is the
    downstream symptom this catches upstream), and the norm
    min/avg/max (a collapsed or exploded norm distribution flags a
    broken encoder checkpoint).

    Norms accumulate in DOUBLE in array order on both engines (the
    _as_double convention — element-order fold, so the float32 sums
    are bit-identical), entirely inside whole-stage codegen: one
    narrow projection + one grouped aggregate with map-side combine;
    nothing leaves the executors but the per-label stats."""
    e = load(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            _as_double("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    norms = e.select(
        "label", F.size("embedding").alias("dim"), nrm.alias("nrm")
    )
    return norms.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum(F.when(F.col("dim") == 64, 0).otherwise(1)).alias("n_bad_dim"),
        F.sum(F.when(F.col("nrm") < 1e-12, 1).otherwise(0)).alias(
            "n_zero_norm"
        ),
        F.round(F.min("nrm"), 4).alias("min_norm"),
        F.round(F.avg("nrm"), 4).alias("avg_norm"),
        F.round(F.max("nrm"), 4).alias("max_norm"),
    )


@query(
    "llm_knn_eval",
    oracle="""
    WITH sims AS (
      SELECT q.vec_id AS qid, n.vec_id AS nid, n.label,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(n.embedding AS DOUBLE[])) AS cos
      FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
    ), topk AS (
      SELECT qid, label FROM (
        SELECT qid, label,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
        FROM sims) WHERE rn <= 5
    ), votes AS (
      SELECT qid, label, count(*) AS c FROM topk GROUP BY qid, label
    ), pred AS (
      SELECT qid AS vec_id, CAST(label AS INT) AS pred_label FROM (
        SELECT qid, label,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, label) AS rn
        FROM votes) WHERE rn = 1
    ), joined AS (
      SELECT e.label AS true_label, p.pred_label
      FROM pred p JOIN embeddings e ON p.vec_id = e.vec_id
    )
    SELECT CAST(true_label AS BIGINT) AS true_label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(ROUND(SUM(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END)
                      / CAST(count(*) AS DOUBLE), 6) AS DOUBLE)
             AS class_recall,
           CAST(ROUND(SUM(SUM(CASE WHEN true_label = pred_label
                                   THEN 1 ELSE 0 END)) OVER ()
                      / CAST(SUM(count(*)) OVER () AS DOUBLE), 6) AS DOUBLE)
             AS overall_accuracy
    FROM joined GROUP BY true_label
    """,
)
def llm_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out evaluation of the 5-NN labeler — the
    embedding-quality certificate a labeling/curation pipeline checks
    before trusting llm_knn_label's outputs at scale: per-class recall
    and overall accuracy of predicting each vector's own label from
    its neighbors. A class whose recall collapses means its embedding
    cluster is entangled — the signal to retrain or to route that
    class to human review.

    Built ON the production operator (it calls llm_knn_label's plan,
    blocked-GEMM candidates and all — evaluating a different code path
    than you ship is how eval lies to you), then one join to truth and
    one grouped aggregate; the overall accuracy is a window over the
    |classes|-row result."""
    from flume_hive_batch_sink_spark.registry import QUERIES

    pred = QUERIES["llm_knn_label"](spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").alias("true_label")
    )
    joined = pred.join(emb, "vec_id")
    correct = F.sum(
        F.when(F.col("true_label") == F.col("pred_label"), 1).otherwise(0)
    )
    per_class = joined.groupBy(
        F.col("true_label").cast("long").alias("true_label")
    ).agg(
        F.count("*").alias("n"),
        correct.alias("n_correct"),
    )
    w = Window.partitionBy()
    return per_class.select(
        "true_label",
        "n",
        "n_correct",
        F.round(F.col("n_correct") / F.col("n").cast("double"), 6).alias(
            "class_recall"
        ),
        F.round(
            F.sum("n_correct").over(w) / F.sum("n").over(w).cast("double"), 6
        ).alias("overall_accuracy"),
    )
