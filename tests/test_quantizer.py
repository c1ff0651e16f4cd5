"""Coarse-quantizer scaling contract for the IVF / SemDeDup family
(llm/similarity.py): centroid count grows sublinearly and is capped,
the SQL oracles derive the identical stride, Lloyd's training is
sample-bounded, the one centroid assigner (_centroid_probes) gives the
same assignment on its over-closure-budget path (blocked GEMM join
against a centroid DataFrame) as on its closure kernel, every key that
assigns through it keeps its certificate or oracle on that path, and
the blocked multiprobe relation's replication stays capped in n.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from flume_hive_batch_sink_spark.llm import similarity as S

SF = "/root/testdata/sf0.001"


class TestQuantizerSizing:
    def test_k_is_sqrt_shaped(self):
        assert S._quantizer_k(100) == 10
        assert S._quantizer_k(10_000) == 100
        assert S._quantizer_k(1_000_000) == 1_000

    def test_k_is_capped(self):
        # a 100 TB corpus (say 1e10 vectors) still yields a bounded
        # quantizer: driver/closure centroid state never grows past
        # _QUANT_K_CAP rows no matter the data size.
        assert S._quantizer_k(10**8) == S._QUANT_K_CAP
        assert S._quantizer_k(10**10) == S._QUANT_K_CAP

    def test_k_is_sublinear(self):
        # doubling n never doubles k (the round-5 defect was k = n/100,
        # which fails this at every n)
        for n in [10**3, 10**4, 10**5, 10**6, 10**7]:
            assert S._quantizer_k(2 * n) < 2 * S._quantizer_k(n)
        # and the ratio k/n vanishes
        assert S._quantizer_k(10**8) / 10**8 < 1e-4

    def test_k_floor(self):
        assert S._quantizer_k(1) == 4
        assert S._quantizer_k(10) == 4

    def test_stride_yields_about_k_centroids(self):
        # contiguous ids 0..n-1: centroid count = floor((n-1)/stride)+1
        for n in [500, 2_000, 20_000, 1_000_000, 10**8]:
            stride = S._centroid_stride(n)
            n_cent = (n - 1) // stride + 1
            k = S._quantizer_k(n)
            assert n_cent <= k + 1
            assert n_cent >= k // 2

    def test_stride_matches_duckdb_expression(self):
        # the oracle's p CTE must compute the identical stride — both
        # sides are the same IEEE-double expression
        for n in [1, 5, 99, 500, 501, 2_000, 20_000, 65_536, 10**6,
                  16_777_217, 10**8, 123_456_789]:
            sql = S._STRIDE_CTE.replace(
                "FROM embeddings", f"FROM range({n})"
            )
            got = duckdb.sql(sql).fetchone()[0]
            assert got == S._centroid_stride(n), f"n={n}"

    def test_train_sample_bounded(self):
        # Lloyd's never trains on more than ~_KMEANS_TRAIN_CAP rows
        for n in [100, 65_536, 10**6, 10**9]:
            mod = S._train_sample_mod(n)
            assert (n + mod - 1) // mod <= S._KMEANS_TRAIN_CAP + 1


class TestCentroidAssignment:
    @pytest.fixture(scope="class")
    def e_df(self, spark):
        from flume_hive_batch_sink_spark.io import load
        from pyspark.sql import functions as F

        emb = load(spark, SF, "embeddings")
        return emb.select(
            "vec_id", S._as_double("embedding").alias("e")
        ).cache()

    @pytest.fixture(scope="class")
    def cent(self, e_df):
        from pyspark.sql import functions as F

        pdf = (
            e_df.filter(F.col("vec_id") % 37 == 0)
            .orderBy("vec_id")
            .limit(12)
            .toPandas()
        )
        mat = np.array(pdf["e"].tolist(), dtype=np.float64)
        return mat / np.linalg.norm(mat, axis=1, keepdims=True)

    @staticmethod
    def _collect(df):
        rows = df.orderBy("vec_id").collect()
        return [(r["vec_id"], r["cid"], tuple(r["probes"])) for r in rows]

    def test_join_path_matches_closure_path(self, e_df, cent, monkeypatch):
        closure = self._collect(S._centroid_probes(e_df, cent, 3))
        # force the blocked-GEMM join path by shrinking the budget to 0
        monkeypatch.setattr(S, "_ASSIGN_CLOSURE_DOUBLES", 0)
        joined = self._collect(S._centroid_probes(e_df, cent, 3))
        assert closure == joined

    def test_join_path_splits_centroid_blocks(self, e_df, cent, monkeypatch):
        # with _BLOCK shrunk the centroid side spans multiple blocks, so
        # the per-vector merge across block-local winners is exercised
        closure = self._collect(S._centroid_probes(e_df, cent, 3))
        monkeypatch.setattr(S, "_ASSIGN_CLOSURE_DOUBLES", 0)
        monkeypatch.setattr(S, "_BLOCK", 5)
        joined = self._collect(S._centroid_probes(e_df, cent, 3))
        assert closure == joined

    def test_probes_ranked_and_top1_consistent(self, e_df, cent):
        for r in S._centroid_probes(e_df, cent, 4).collect():
            assert r["probes"][0] == r["cid"]
            assert len(r["probes"]) == 4
            assert len(set(r["probes"])) == 4


class TestKmeansDriverBoundedness:
    def test_centroid_count_follows_k_not_n(self, spark):
        from flume_hive_batch_sink_spark.io import load

        emb = load(spark, SF, "embeddings")
        n = emb.count()
        k = S._quantizer_k(n)
        cent = S._kmeans_centroids(emb, k, n_vec=n, iters=1)
        # the driver-resident matrix is exactly (k, dim) — sublinear by
        # the sizing tests above — NOT the old n/100 linear list
        assert cent.shape[0] == k
        assert cent.shape[0] < n // 10
        norms = np.linalg.norm(cent, axis=1)
        assert np.allclose(norms, 1.0)


class TestJoinPathEndToEnd:
    def test_ivf_kmeans_certificate_holds_on_join_path(self, spark, monkeypatch):
        """Force the whole llm_ann_ivf_kmeans operator (training loop +
        search assignment) through the blocked-GEMM join path: the
        recall certificate must hold exactly as on the closure path —
        the dispatch is invisible to the operator's contract."""
        monkeypatch.setattr(S, "_ASSIGN_CLOSURE_DOUBLES", 0)
        row = S.llm_ann_ivf_kmeans(spark, SF).collect()[0]
        assert row["recall_ok"], "join-path IVF lost the recall contract"
        assert row["n_queries"] > 0

    def test_semdedup_kmeans_certificate_holds_on_join_path(
        self, spark, monkeypatch
    ):
        monkeypatch.setattr(S, "_ASSIGN_CLOSURE_DOUBLES", 0)
        row = S.llm_semdedup_kmeans(spark, SF).collect()[0]
        assert row["precision_ok"] and row["recall_ok"]

    def test_semdedup_matches_oracle_on_join_path(self, spark, monkeypatch):
        """llm_semdedup's stride-centroid assignment through the join
        path: every keep bit must still equal its DuckDB oracle's."""
        from oracle import compare

        monkeypatch.setattr(S, "_ASSIGN_CLOSURE_DOUBLES", 0)
        compare(S.llm_semdedup(spark, SF), S._SEMDEDUP_ORACLE, SF)


class TestMultiprobeBlockScaling:
    """Round-15 (ADVICE r14): the d-side of the blocked multiprobe
    relation replicates each database vector once per QUERY BLOCK, so
    block COUNT must stay bounded as n grows — with a fixed 2^16 block
    size, 50M vectors meant 763 copies of every vector (the quadratic
    shuffle reappearing one order up) and a 763-element literal array
    in the plan. Block size now scales with n, capping d-replication at
    _PROBE_MAX_QBLOCKS, and the explode runs over sequence() (constant
    plan size)."""

    def _qblk_counts(self, spark, n_vec):
        from pyspark.sql import functions as F

        assigned = spark.createDataFrame(
            [(i, [0.6, 0.8], i % 3, [i % 3]) for i in range(6)],
            "vec_id bigint, e array<double>, cid int, probes array<int>",
        )
        both = S._multiprobe_blocks(assigned, n_vec)
        d = both.filter(F.col("role") == 0)
        per_vec = (
            d.groupBy("vec_id").count().agg(F.max("count")).collect()[0][0]
        )
        distinct_qblk = d.select("qblk").distinct().count()
        return per_vec, distinct_qblk

    def test_small_n_keeps_fixed_block_size(self, spark):
        per_vec, nq = self._qblk_counts(spark, 500_000)
        assert nq == -(-500_000 // S._PROBE_QBLK) == 8
        assert per_vec == 8

    def test_large_n_caps_d_replication(self, spark):
        # 50M vectors: 763 query blocks before the fix — now ≤ the cap
        per_vec, nq = self._qblk_counts(spark, 50_000_000)
        assert nq <= S._PROBE_MAX_QBLOCKS
        assert per_vec <= S._PROBE_MAX_QBLOCKS

    def test_plan_size_bounded_in_n(self, spark):
        # the d-side explode is sequence() and block count is capped, so
        # the optimized plan (Catalyst constant-folds the sequence into
        # a ≤_PROBE_MAX_QBLOCKS-element literal) may not grow past the
        # cap: 1e9 and 1e12 vectors must produce byte-identical plans,
        # where the old literal array grew by ~12 chars per 65k vectors.
        assigned = spark.createDataFrame(
            [(0, [1.0, 0.0], 0, [0])],
            "vec_id bigint, e array<double>, cid int, probes array<int>",
        )
        big = S._multiprobe_blocks(assigned, 10**9)
        huge = S._multiprobe_blocks(assigned, 10**12)
        lb = len(big._jdf.queryExecution().optimizedPlan().toString())
        lh = len(huge._jdf.queryExecution().optimizedPlan().toString())
        assert lh == lb, f"plan grows past the block-count cap: {lb} -> {lh}"
