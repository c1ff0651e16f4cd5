"""Physical-plan quality gates — the 100 TB posture, asserted.

Correctness says an operator returns the right rows; these tests say it
returns them with the plan you'd want on a 1000-executor cluster reading
100 TB: filters pushed into the parquet scan, scans pruned to the
referenced columns, small dimensions broadcast instead of shuffled,
equi-joins never degenerating to cartesian products, hot paths inside
whole-stage codegen, and global top-k compiling to TakeOrderedAndProject
rather than a full sort. Plan shape is inspected via
``explain(mode="formatted")`` — the same artifact a human would read.
"""

from __future__ import annotations

import contextlib
import io
import os
import re

import pytest
from pyspark.sql import functions as F

from flume_hive_batch_sink_spark import registry
from flume_hive_batch_sink_spark.io import load
from flume_hive_batch_sink_spark.registry import load_all_operators

load_all_operators()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    """A predicate on a scanned column must appear as PushedFilters in
    the parquet scan node, not as a post-scan Filter only."""
    df = load(spark, SF_DIR, "orders").filter(F.col("o_orderstatus") == "F")
    p = plan(df)
    assert "PushedFilters" in p
    assert "o_orderstatus" in p.split("PushedFilters")[1].split("\n")[0]


def test_column_pruning_in_scan(spark):
    """A 2-column aggregate over the 16-column lineitem table must scan
    only the referenced columns (ReadSchema pruned)."""
    df = (
        load(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )
    p = plan(df)
    read_schema = p.split("ReadSchema")[1].split("\n")[0]
    assert "l_returnflag" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema


@pytest.mark.parametrize("key", ["join_broadcast", "join_multiway", "join_inner"])
def test_dim_joins_broadcast(spark, key):
    """Dimension joins must be broadcast: no shuffle of the fact side on
    the join key at any scale where the dim fits the broadcast threshold."""
    p = plan(registry.QUERIES[key](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


@pytest.mark.parametrize(
    "key",
    ["join_inner", "join_left", "join_semi", "join_anti", "join_multiway"],
)
def test_equi_joins_never_cartesian(spark, key):
    p = plan(registry.QUERIES[key](spark, SF_DIR))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_agg_has_partial_stage(spark):
    """groupBy aggregates must do map-side partial aggregation before the
    exchange (two HashAggregate nodes bracketing one Exchange)."""
    p = plan(registry.QUERIES["agg_group_basic"](spark, SF_DIR))
    assert "partial_sum" in p  # map-side combine before the shuffle
    assert "hashpartitioning" in p


def test_topk_uses_take_ordered(spark):
    """Global ORDER BY + LIMIT must compile to TakeOrderedAndProject —
    a per-partition heap + driver merge — never a full global sort."""
    p = plan(registry.QUERIES["limit_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p


def test_hot_path_in_codegen(spark):
    """The q1-shape aggregate must run inside whole-stage codegen
    (codegen explain mode reports the fused subtrees). AQE is disabled
    for the inspection only — an un-executed AdaptiveSparkPlan reports
    its codegen subtrees as empty."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = registry.QUERIES["agg_group_basic"](spark, SF_DIR)
        p = plan(df, mode="codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in p and "Found 0" not in p


def test_window_partitioned_on_big_table(spark):
    """Per-group windows over fact tables must partition by the group key
    (a global single-partition window would serialize 100 TB through one
    task)."""
    p = plan(registry.QUERIES["topk_per_group"](spark, SF_DIR), mode="simple")
    assert "Window" in p
    # the window's required child distribution is a hash partitioning on
    # the group key, visible as an Exchange on o_custkey
    assert "hashpartitioning(o_custkey" in p


def test_vector_kernel_prunes_columns(spark):
    """The blocked cosine kernel must not drag the label column through
    the shuffle — only vec_id + embedding reach the block index."""
    df = registry.QUERIES["llm_sim_topk_pairs"](spark, SF_DIR)
    p = plan(df)
    read_schema = p.split("ReadSchema")[1].split("\n")[0]
    assert "label" not in read_schema


def test_bucketed_join_has_no_shuffle(spark):
    """The bucketed fact⋈fact join must read pre-partitioned buckets and
    sort-merge join them with NO exchange on either side — the pay-once
    co-location contract."""
    from flume_hive_batch_sink_spark.operators.relational import (
        bucketed_join_plan,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # the registered key returns localized rows (collected once under
        # this same conf); the gate inspects the lazy plan it executed
        df = bucketed_join_plan(spark, SF_DIR)
        p = plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in p
    assert "Exchange hashpartitioning" not in p.split("HashAggregate")[0]


def test_bucketed_join_pays_write_once_across_calls(spark):
    """Second invocation at the same sf must reuse the session's bucketed
    tables instead of rewriting them: the table directories' file listing
    (names + mtimes) is identical before and after call 2 — zero write
    jobs launched — and the result still matches the oracle."""
    import os
    from urllib.parse import urlparse

    from oracle import compare

    q = registry.QUERIES["join_bucketed_colocated"]
    sql = registry.ORACLES["join_bucketed_colocated"]
    q(spark, SF_DIR).collect()  # build (or reuse from an earlier test)

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def listing():
        state = []
        for d in sorted(os.listdir(warehouse)):
            if d.startswith("bkt_") and SF_DIR.split("sf")[-1].replace(".", "_") in d:
                full = os.path.join(warehouse, d)
                for f in sorted(os.listdir(full)):
                    st = os.stat(os.path.join(full, f))
                    state.append((d, f, st.st_mtime_ns, st.st_size))
        return state

    before = listing()
    assert before, "bucketed table dirs missing after first call"
    compare(q(spark, SF_DIR), sql, SF_DIR)  # call 2: correct AND no rewrite
    assert listing() == before


def _node(p: str, i: int) -> str:
    """The detail section of node ``(i)`` in a formatted plan."""
    return p.split(f"\n({i}) ", 1)[1].split("\n\n", 1)[0]


@pytest.mark.parametrize("family", ["production", "certificate"])
def test_minhash_signature_stage_is_one_partial_aggregate(spark, family):
    """The MinHash signature + banding stage compiles to code-generated
    expressions: the tokens explode once (Generate), the per-position
    minima are a partial aggregate (partial_min) right below the
    stage's ONE Exchange, hash-partitioned on doc_id — so one row of
    k hashes per doc crosses it — and no higher-order function
    (lambdafunction / transform: CodegenFallback in Spark 4.1, run
    interpreted per token) is left in the plan. Holds for the
    production (xxhash64) and the certificate (md5) family alike; the
    md5 minima are strings, which have no fixed-width aggregation
    buffer, so that family's partial aggregate is a SortAggregate."""
    from flume_hive_batch_sink_spark.llm import dedup

    tok = dedup.token_arrays(load(spark, SF_DIR, "documents"))
    if family == "production":
        bands = dedup.minhash_bands(tok)
    else:
        bands = dedup.minhash_bands(
            tok, dedup._PR_BANDS, dedup._PR_ROWS, "md5", dedup._md5_band_key
        )
    p = plan(bands)
    assert "lambdafunction" not in p and "transform" not in p
    exchanges = [int(i) for i in re.findall(r"^\((\d+)\) Exchange$", p, re.M)]
    assert len(exchanges) == 1
    ex = exchanges[0]
    assert "Arguments: hashpartitioning(doc_id#" in _node(p, ex)
    below = _node(p, ex - 1)
    agg = "HashAggregate" if family == "production" else "SortAggregate"
    assert below.startswith(agg) and "partial_min(" in below
    assert "Generate" in p  # the explode and posexplode are there


def test_band_candidates_fanout_sized_by_guard(spark, monkeypatch):
    """The pair join's and the pair dedup's explicit repartitions run
    ⌈kept_pairs / _PAIRS_PER_TASK⌉ tasks when the candidate guard has
    measured the slot count (capped at the session's shuffle
    partitions, recorded as ``fanout_partitions``), and the session's
    shuffle partitions when the guard is off."""
    from math import ceil

    from flume_hive_batch_sink_spark.llm import dedup as D
    from flume_hive_batch_sink_spark.partitioning import shuffle_parallelism

    rows = [(i, "the same template text repeated verbatim") for i in range(40)]
    rows += [(100 + i, f"unique doc {i} alpha{i} beta{i}") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    bands = D.minhash_bands(D.token_arrays(docs))
    shuffle = shuffle_parallelism(bands)
    assert shuffle > 1

    def fanout(candidates) -> set[int]:
        args = re.findall(r"^Arguments: (.*), REPARTITION_BY_NUM", plan(candidates), re.M)
        assert len(args) >= 2, "the band and the pair repartitions"
        return {1 if a == "SinglePartition" else int(a.rsplit(", ", 1)[1][:-1]) for a in args}

    info: dict = {}
    guarded = D.band_candidates(bands, candidate_budget=10**9, guard_info=info)
    kept = info["kept_pairs"]
    assert 0 < kept <= D._PAIRS_PER_TASK
    assert info["fanout_partitions"] == 1
    assert fanout(guarded) == {1}

    # a smaller slots-per-task constant gives a proportionally wider fan-out
    monkeypatch.setattr(D, "_PAIRS_PER_TASK", kept // 3)
    info = {}
    want = min(shuffle, ceil(kept / (kept // 3)))
    assert fanout(D.band_candidates(bands, candidate_budget=10**9, guard_info=info)) == {want}
    assert info["fanout_partitions"] == want > 1

    assert fanout(D.band_candidates(bands, candidate_budget=None)) == {shuffle}


def test_spread_to_cores_fills_default_parallelism(spark):
    """A one-split input (a small corpus is one scan split) is spread
    to at least the scheduler's default parallelism, so a CPU-heavy
    signature stage after it runs on every core."""
    from flume_hive_batch_sink_spark.partitioning import spread_to_cores

    par = spark.sparkContext.defaultParallelism
    docs = load(spark, SF_DIR, "documents").coalesce(1)
    spread = spread_to_cores(docs)
    assert spread.rdd.getNumPartitions() >= par
    assert "Exchange" in plan(spread)
    assert sorted(r.doc_id for r in spread.select("doc_id").collect()) == sorted(
        r.doc_id for r in docs.select("doc_id").collect()
    )


def test_spread_to_cores_leaves_wide_input_alone(spark):
    """An input that already has default-parallelism partitions (the
    corpus-scale case: many splits) gets no extra Exchange."""
    from flume_hive_batch_sink_spark.partitioning import spread_to_cores

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, numPartitions=par)
    spread = spread_to_cores(wide)
    assert spread is wide
    assert "Exchange" not in plan(spread)


def test_ntile_approx_has_no_window(spark):
    """The scale-safe quartile operator must compile WITHOUT any
    WindowExec (its reason to exist: win_ntile's exact global ntile
    serializes the table through one partition)."""
    p = plan(registry.QUERIES["win_ntile_approx"](spark, SF_DIR))
    assert "Window" not in p


def test_gini_binned_window_on_bucket_grain(spark):
    """agg_gini_binned's only Window (the Lorenz cumsum) must consume
    the BUCKET aggregate — a few hundred rows regardless of input size —
    never the per-customer spend table (agg_gini_spend's exact global
    rank, the thing this key exists to avoid). In the formatted tree the
    Window node sits above (is parent of) a HashAggregate keyed by
    bucket, and there is exactly one Window node (tree + detail block =
    two mentions of 'Window ')."""
    p = plan(registry.QUERIES["agg_gini_binned"](spark, SF_DIR))
    tree = p.split("\n\n")[0]
    win_lines = [i for i, l in enumerate(tree.splitlines()) if "Window" in l]
    agg_lines = [
        i
        for i, l in enumerate(tree.splitlines())
        if "HashAggregate" in l
    ]
    assert len(win_lines) == 1
    # the bucket HashAggregate is a descendant: printed below the Window
    assert any(i > win_lines[0] for i in agg_lines)
    # the aggregate the Window consumes is keyed by bucket — resolved
    # through the node ids, no substring fallback: if this fails, the
    # window moved off the bounded bucket grain
    tree_lines = tree.splitlines()
    m = next(
        (
            mm
            for l in tree_lines[win_lines[0] + 1 :]
            if (mm := re.search(r"HashAggregate \((\d+)\)", l))
        ),
        None,
    )
    assert m, "no HashAggregate below the Window in the plan tree"
    detail = p.split(f"({m.group(1)}) HashAggregate")[1]
    keys_line = next(
        l for l in detail.splitlines() if l.startswith("Keys")
    )
    assert "[bucket" in keys_line, keys_line


@pytest.mark.parametrize(
    "key",
    [
        "pipeline_tpch_q3",
        "pipeline_tpch_q5",
        "pipeline_tpch_q7",
        "pipeline_tpch_q9",
        "pipeline_tpch_q10",
        "pipeline_tpch_q14",
        "pipeline_tpch_q18",
        "pipeline_tpch_q19",
        "pipeline_tpch_q8",
        "pipeline_tpch_q15",
        "pipeline_tpch_q16",
        "pipeline_tpch_q17",
        "pipeline_tpch_q20",
        "pipeline_tpch_q21",
    ],
)
def test_tpch_pipelines_broadcast_dims(spark, key):
    """Every star-join pipeline must broadcast its dimension sides and
    never degrade to a cartesian/nested-loop product."""
    p = plan(registry.QUERIES[key](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_tpch_q4_exists_compiles_to_semi_join(spark):
    """The EXISTS predicate must be a LeftSemi join (ships only the join
    key, never widens rows)."""
    p = plan(registry.QUERIES["pipeline_tpch_q4"](spark, SF_DIR))
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_tpch_q6_predicates_reach_scan(spark):
    """Q6 is scan-filter-agg: all three predicates must appear in the
    parquet PushedFilters, and the plan must contain no join at all."""
    p = plan(registry.QUERIES["pipeline_tpch_q6"](spark, SF_DIR))
    pushed = p.split("PushedFilters")[1].split("\n")[0]
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in pushed
    assert "Join" not in p


def test_tpch_q22_scalar_subquery_stays_distributed(spark):
    """The scalar average must arrive via a 1-row broadcast nested-loop
    cross join (legitimate: one row), and the no-orders predicate via a
    left-anti join — no driver-side collect in the plan."""
    p = plan(registry.QUERIES["pipeline_tpch_q22"](spark, SF_DIR))
    assert "LeftAnti" in p


def test_tpch_q1_pure_scan_agg(spark):
    """Q1 must stay a joinless scan-filter-aggregate with the shipdate
    predicate pushed into the parquet scan."""
    p = plan(registry.QUERIES["pipeline_tpch_q1"](spark, SF_DIR))
    pushed = p.split("PushedFilters")[1].split("\n")[0]
    assert "l_shipdate" in pushed
    assert "Join" not in p


def test_tpch_q21_sole_failer_is_semi_plus_anti(spark):
    """The EXISTS/NOT EXISTS pair must compile to one semi and one anti
    self-join on lineitem — never a window or cartesian over the order."""
    p = plan(registry.QUERIES["pipeline_tpch_q21"](spark, SF_DIR))
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_tpch_q11_total_stays_distributed(spark):
    """Q11's grand total must be a 1-row broadcast into the HAVING
    comparison (Q22 pattern), not a driver-side collect."""
    p = plan(registry.QUERIES["pipeline_tpch_q11"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p  # supplier/nation dims
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p


def test_partition_pruning_static_and_dynamic(spark):
    """The Hive-style partitioned layout must support both pruning modes
    at the scan: a literal dt predicate becomes a static PartitionFilter
    (only that directory is listed), and a join against a filtered dim
    on the partition column injects a dynamicpruningexpression — the
    mechanism that keeps a 100 TB dt-partitioned fact scan proportional
    to the dims actually joined."""
    import tempfile

    from flume_hive_batch_sink_spark.operators.ingest import (
        hive_partitioned_write_path,
        with_partition_keys,
    )

    ev = with_partition_keys(load(spark, SF_DIR, "events"))
    out = os.path.join(tempfile.mkdtemp(prefix="prune_"), "tbl")
    hive_partitioned_write_path(ev, out, partition_cols=("dt",))
    back = spark.read.parquet(out)
    val = back.select("dt").first()["dt"]

    static = plan(back.filter(F.col("dt") == val).groupBy("event_type").count())
    pf = [l for l in static.split("\n") if "PartitionFilters" in l][0]
    assert str(val) in pf

    dim = (
        ev.select("dt")
        .distinct()
        .filter(F.col("dt") <= F.lit(str(val)))
        .limit(3)
        .withColumn("dt", F.col("dt").cast(back.schema["dt"].dataType))
    )
    dyn = plan(back.join(F.broadcast(dim), "dt").groupBy("event_type").count())
    assert "dynamicpruning" in dyn.lower()


def test_catalog_partitions_registered_and_pruned(spark):
    """After explicit registration (ALTER ADD + MSCK) the catalog must
    know every partition, and a dt-filtered query over the CATALOG
    table must prune at the scan (PartitionFilters carries the
    predicate) — the property the reference's add_partition RPC exists
    to provide."""
    from flume_hive_batch_sink_spark.operators.ingest import (
        register_catalog_partitions,
    )

    sf = "/root/testdata/sf0.001"
    tbl = register_catalog_partitions(spark, sf)
    parts = spark.sql(f"SHOW PARTITIONS {tbl}").collect()
    assert len(parts) > 0
    n_cat = spark.table(tbl).count()
    n_src = load(spark, sf, "events").count()
    assert n_cat == n_src, "catalog table must expose every registered row"

    val = parts[0]["partition"].split("/")[0].split("=")[1]
    p = plan(spark.table(tbl).filter(F.col("dt") == val).groupBy("hr").count())
    pf = [l for l in p.split("\n") if "PartitionFilters" in l][0]
    assert val in pf


def test_bucketed_join_sf_scoped_tables(spark):
    """Alternating scale factors in one session must not clobber each
    other's bucketed tables: each sf_dir gets its own table names and the
    second run at each sf still matches its own oracle row counts."""
    from flume_hive_batch_sink_spark import registry
    from oracle import compare

    q = registry.QUERIES["join_bucketed_colocated"]
    sql = registry.ORACLES["join_bucketed_colocated"]
    for sf in ("/root/testdata/sf0.001", SF_DIR, "/root/testdata/sf0.001"):
        compare(q(spark, sf), sql, sf)


def test_substring_spans_window_partitioned_and_hash_only_shuffle(spark):
    """llm_substring_dup_spans: the span-merge window must be hash-
    partitioned by doc_id (never a global window), and the exploded gram
    stage must shuffle the 8-byte xxhash64 — the gram STRING must not
    survive past the projection under the exchange."""
    from flume_hive_batch_sink_spark.llm.dedup import llm_substring_dup_spans

    df = llm_substring_dup_spans(spark, SF_DIR)
    p = plan(df, mode="simple")
    assert "hashpartitioning(doc_id" in p
    assert "Window" in p
    fmt = plan(df)
    assert "xxhash64" in fmt
    # no single-partition window anywhere
    assert "SinglePartition" not in p


def test_graph_pagerank_no_cartesian_and_partial_agg(spark):
    """Each PageRank iteration must be an equi-join + partially
    aggregated groupBy — no cartesian/nested-loop, map-side combine
    present."""
    from flume_hive_batch_sink_spark.operators.graph import _cs_edges, _DAMPING

    from pyspark.sql import functions as F

    edges = _cs_edges(spark, SF_DIR)
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    weighted = edges.join(deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("d")).alias("w")
    )
    ranks = deg.select(F.col("src").alias("node"), F.lit(0.001).alias("pr"))
    it1 = (
        weighted.join(ranks, weighted.src == ranks.node)
        .groupBy(F.col("dst").alias("node"))
        .agg((F.lit(0.1) + _DAMPING * F.sum(F.col("pr") * F.col("w"))).alias("pr"))
    )
    p = plan(it1)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "partial_sum" in p


def test_graph_triangles_oriented_join_no_cartesian(spark):
    """The compact-forward triangle join must stay an equi-join chain
    (the u<v orientation is a post-join filter on the co-part join, and
    the closing edge check is a LeftSemi)."""
    from flume_hive_batch_sink_spark.operators.graph import graph_triangles

    # graph_triangles collects scalar counts; gate the edge+wedge plan
    # by rebuilding the same joins unexecuted.
    from pyspark.sql import functions as F

    sp = (
        load(spark, SF_DIR, "lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    e = (
        sp.alias("a")
        .join(sp.alias("b"), (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
    )
    wedge = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .join(
            e.alias("e3"),
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
            "left_semi",
        )
    )
    p = plan(wedge)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "LeftSemi" in p


def test_zorder_is_codegen_integer_ops(spark):
    """The Morton bit ladder must stay inside whole-stage codegen (no
    Python UDF, no BatchEvalPython) and aggregate with a map-side
    partial stage."""
    from flume_hive_batch_sink_spark.operators.etl import etl_zorder_layout

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = etl_zorder_layout(spark, SF_DIR)
        p = plan(df, mode="codegen")
        fmt = plan(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "BatchEvalPython" not in fmt and "ArrowEvalPython" not in fmt
    assert "WholeStageCodegen subtrees" in p and "Found 0" not in p
    assert "partial_count" in fmt or "partial_min" in fmt


def test_bloom_probe_join_broadcasts_bits(spark):
    """The Bloom probe must broadcast the bit set (<= m rows) — a
    shuffle join on the bit id would defeat the point of the filter."""
    from flume_hive_batch_sink_spark.operators.sketches import (
        _bloom_bits_expr)
    from pyspark.sql import functions as F

    orders = load(spark, SF_DIR, "orders")
    build = (
        orders.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("k")).distinct()
    )
    bits = build.select(
        F.explode(F.array(*_bloom_bits_expr("k"))).alias("b")
    ).distinct()
    probe = (
        load(spark, SF_DIR, "lineitem")
        .select(F.col("l_orderkey").alias("k")).distinct()
    )
    ph = probe.select("k", F.explode(F.array(*_bloom_bits_expr("k"))).alias("b"))
    joined = ph.join(F.broadcast(bits), "b")
    p = plan(joined)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_containment_joins_stay_equi(spark):
    """The containment inverted-index join must compile to equi-joins on
    the shingle (plus post-filters) — never nested-loop."""
    from flume_hive_batch_sink_spark.llm.dedup import llm_containment_dedup

    p = plan(llm_containment_dedup(spark, SF_DIR))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_jpeg_decode_reads_only_vec_id(spark):
    """The JPEG fixture+decode chain must scan ONLY vec_id from the
    embeddings parquet — dragging the embedding array through the Arrow
    kernels would multiply the exchanged bytes ~100x."""
    df = registry.QUERIES["multimodal_decode_jpeg"](spark, SF_DIR)
    p = plan(df)
    read_schema = p.split("ReadSchema")[1].split("\n")[0]
    assert "vec_id" in read_schema
    assert "embedding" not in read_schema and "label" not in read_schema


def test_pq_adc_no_cartesian_and_codes_join_broadcast(spark):
    """llm_ann_pq: the ADC scan must join codes against a BROADCAST LUT
    (the corpus side never shuffles raw vectors) and the only
    nested-loop join allowed is the tiny broadcast query fan-out of the
    exact-recall certificate — never a CartesianProduct."""
    p = plan(registry.QUERIES["llm_ann_pq"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_asof_tolerance_is_hash_join_with_band_residual(spark):
    """ts_asof_tolerance: the bounded-tolerance as-of must plan as an
    equi join on user_id (hash or sort-merge) with the time band as a
    residual condition — a cartesian or nested-loop plan here would be
    the O(n^2) formulation the tolerance bound exists to avoid."""
    p = plan(registry.QUERIES["ts_asof_tolerance"](spark, SF_DIR))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or (
        "ShuffledHashJoin" in p
    )


def test_streak_windows_are_user_partitioned(spark):
    """win_streak_islands: both windows must hash-partition on user_id —
    no SinglePartition window anywhere (the global-window trap that
    serializes one reducer at scale)."""
    p = plan(registry.QUERIES["win_streak_islands"](spark, SF_DIR))
    assert "SinglePartition" not in p


def test_cdc_apply_single_exchange_on_key(spark):
    """etl_cdc_apply: the recency rank and the op count share one hash
    partitioning on user_id — applying a change log costs exactly one
    shuffle of the log."""
    p = plan(registry.QUERIES["etl_cdc_apply"](spark, SF_DIR))
    assert "SinglePartition" not in p
    import re

    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1


def test_pointin_burst_dim_broadcast(spark):
    """join_range_pointin: the derived interval dimension (types x days)
    must broadcast — the fact side is a single map-only pass with the
    band residual, never a shuffle on the fact."""
    p = plan(registry.QUERIES["join_range_pointin"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_temporal_validity_equi_with_residual(spark):
    """join_temporal_validity: point-in-version must stay an equi join
    on user_id with the interval as residual — not nested-loop."""
    p = plan(registry.QUERIES["join_temporal_validity"](spark, SF_DIR))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_attribution_band_join_stays_equi(spark):
    """pipeline_attribution_touch: the trailing-window attribution join
    must keep user_id as the equi key with the 7-day band residual —
    the ts_asof_tolerance plan family."""
    p = plan(registry.QUERIES["pipeline_attribution_touch"](spark, SF_DIR))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_kafka_wire_roundtrip_is_map_only(spark):
    """The Kafka serializer roundtrip (encode → decode) must be pure
    per-row work fused over the scan: zero Exchange — the transport
    decode adds no shuffle at any scale."""
    df = registry.QUERIES["scan_kafka_wire_roundtrip"](spark, SF_DIR)
    p = plan(df)
    assert "Exchange" not in p


def test_ann_ivf_broadcast_centroids_hash_join_lists(spark):
    """llm_ann_ivf's sublinear-quantizer plan: centroid assignment is a
    BROADCAST fan-out (the O(√n)-capped centroid list must never
    shuffle the fact side), and the inverted-list candidate join on cid
    is a real equi join — no CartesianProduct anywhere."""
    df = registry.QUERIES["llm_ann_ivf"](spark, SF_DIR)
    p = plan(df)
    assert "CartesianProduct" not in p
    assert "Broadcast" in p  # centroid side rides a broadcast exchange
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p  # cid equi join
    # Both argmaxes (assignment and in-list search) must be
    # map-side-combined max_by aggregations, never row_number windows:
    # the window form shuffles every scored/pair row — with the vector
    # payload still attached on the assignment side (~90 GB / 916 s at
    # sf10) — while partial aggregation crosses the exchange with O(n)
    # rows. max_by's struct ordering key compiles to SortAggregate;
    # partial+final pairs for both phases means ≥4 aggregate nodes.
    tree = p.split("\n\n")[0]
    assert "Window" not in tree
    n_aggs = tree.count("SortAggregate") + tree.count("HashAggregate")
    assert n_aggs >= 4


def test_centroid_probes_join_shuffles_scalars_not_arrays(spark):
    """The over-budget assignment path (_centroid_probes_join): the
    candidate rows that cross the post-kernel shuffle are three scalar
    columns (vec_id, cid, sim) — never embedding arrays."""
    import numpy as np

    from flume_hive_batch_sink_spark.llm import similarity as S

    emb = load(spark, SF_DIR, "embeddings")
    e_df = emb.select("vec_id", S._as_double("embedding").alias("e"))
    cent_pdf = e_df.limit(8).toPandas()
    cent = np.array(cent_pdf["e"].tolist(), dtype=np.float64)
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    cent_df = spark.createDataFrame(
        [(int(i), [float(x) for x in r]) for i, r in enumerate(cent)],
        "cid INT, ce ARRAY<DOUBLE>",
    )
    probes = S._centroid_probes_join(e_df, cent_df, 3)
    p = plan(probes)
    # the window merge shuffles (vec_id, cid, sim) — the kernel output
    # schema — not the array-carrying block rows
    window_shuffle = [
        seg for seg in p.split("Exchange") if "hashpartitioning(vec_id" in seg
    ]
    assert window_shuffle, "expected the per-vector merge exchange"
    assert all("ARRAY" not in seg.split("Window")[0][:400].upper()
               or "e#" not in seg[:200] for seg in window_shuffle)


# ---------------------------------------------------------------- round 6


@pytest.mark.parametrize(
    "key",
    [
        "pipeline_market_basket",
        "graph_common_neighbors",
        "pipeline_rfm",
        "etl_backfill_planner",
    ],
)
def test_r6_composites_no_cartesian(spark, key):
    """The round-6 pair-generation and calendar keys join on real keys
    (basket id / customer id / unit-literal broadcast): no plan may
    degenerate to CartesianProduct, and the single-row broadcasts
    (cap, anchor, span) must stay broadcast."""
    p = plan(registry.QUERIES[key](spark, SF_DIR))
    assert "CartesianProduct" not in p


def test_market_basket_dim_broadcast(spark):
    """The part dim tag-join must be a BroadcastHashJoin — the fact
    side never shuffles on p_partkey."""
    p = plan(registry.QUERIES["pipeline_market_basket"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p


def test_backfill_planner_anti_broadcast(spark):
    """The calendar anti-join must broadcast (a calendar is tiny at any
    scale); the observed-feed filter must push into the scan."""
    p = plan(registry.QUERIES["etl_backfill_planner"](spark, SF_DIR))
    assert "LeftAnti, BuildRight" in p or (
        "LeftAnti" in p and "BroadcastHashJoin" in p
    )
    pushed = p.split("PushedFilters")
    assert any("event_type" in seg.split("\n")[0] for seg in pushed[1:])


def test_winnowing_single_explode_post_winnow(spark):
    """Winnowing must explode the SELECTED fingerprints only — one
    Generate node over the already-winnowed distinct array, never a
    per-shingle explosion feeding a second stage. Formatted mode
    prints each node twice (tree line + detail block), so one Generate
    node == exactly two mentions."""
    p = plan(registry.QUERIES["llm_winnowing_fingerprint"](spark, SF_DIR))
    assert p.count("Generate") == 2


def test_seasonal_window_on_day_grain(spark):
    """ts_seasonal_decompose's moving-average window must consume the
    aggregated day grain: exactly one pre-window aggregation of raw
    events, and the seasonal join stays broadcast."""
    p = plan(registry.QUERIES["ts_seasonal_decompose"](spark, SF_DIR))
    assert "Window" in p
    assert "BroadcastHashJoin" in p


def test_kmv_min_set_uses_take_ordered(spark):
    """sketch_kmv_distinct's k-smallest selection must compile to
    TakeOrderedAndProject (per-partition top-k + k-row merge), never a
    global Sort."""
    p = plan(registry.QUERIES["sketch_kmv_distinct"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p


def test_zipf_topk_bounded_before_regression(spark):
    """llm_zipf_fit's regression aggregate must consume the top-200
    filter output — the plan contains the rank filter below the final
    aggregate, and the vocabulary aggregation partial-aggregates."""
    p = plan(registry.QUERIES["llm_zipf_fit"](spark, SF_DIR))
    assert "partial" in p.lower()
    assert "rk" in p


def test_partition_pruning_in_scan(spark):
    """scan_partition_pruned's dt filter must appear as PartitionFilters
    on the partitioned parquet scan — whole directories skipped before
    any row is decoded, the biggest scan saver at 100 TB."""
    p = plan(registry.QUERIES["scan_partition_pruned"](spark, SF_DIR))
    assert "PartitionFilters" in p
    seg = p.split("PartitionFilters")[1].split("\n")[0]
    assert "dt" in seg and "2024-01-05" in seg


def test_incremental_dedup_bloom_broadcast(spark):
    """The corpus bloom bitmap must BROADCAST to the batch probes (the
    kilobytes-to-every-executor contract); no cartesian products."""
    p = plan(registry.QUERIES["llm_incremental_dedup"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_split_temporal_single_user_exchange(spark):
    """split_temporal's two window functions (row_number + per-user
    count) must share one user_id exchange: exactly one
    hashpartitioning(user_id...) Exchange feeding both Window nodes,
    and no global (unpartitioned) window anywhere."""
    p = plan(registry.QUERIES["split_temporal"](spark, SF_DIR))
    args = [
        line
        for line in p.splitlines()
        if "hashpartitioning" in line and "user_id" in line
    ]
    assert len(args) == 1, f"expected one user_id exchange, got: {args}"
    assert "windowspecdefinition()" not in p  # no empty/global window spec


def test_skew_audit_has_no_window(spark):
    """dq_skew_audit must compile with ZERO WindowExec: its earlier
    rank-window over the per-key relation was a single-task global
    sort of |keys| rows — the exact skew failure the audit exists to
    predict, self-inflicted at cluster-scale key cardinality. The
    p99 now comes from a broadcast self-join of the count-of-counts
    histogram; nothing in the plan may sort or window the per-key
    grain (the 1-row/histogram-sized crossJoins must stay broadcast,
    never cartesian)."""
    p = plan(registry.QUERIES["dq_skew_audit"](spark, SF_DIR))
    assert "Window" not in p
    assert "CartesianProduct" not in p


def test_dsir_lut_broadcast_no_vocab_shuffle(spark):
    """llm_dsir_importance's design point is that the LM is a 256-row
    LUT: scoring must join it BROADCAST (never a sort-merge join on a
    vocabulary-sized key) and the plan must be window- and
    cartesian-free — tokens flow map-side into the per-doc aggregate."""
    p = plan(registry.QUERIES["llm_dsir_importance"](spark, SF_DIR))
    tree = p.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree
    assert "Window" not in tree
    assert "CartesianProduct" not in tree


def test_aspect_bucket_prunes_payload_and_stays_map_side(spark):
    """multimodal_aspect_bucket is metadata-only: the scan must read
    vec_id alone (the binary payload and the embedding array never
    leave parquet), and the whole computation is one 9-group aggregate
    — exactly one Exchange, zero joins, zero windows."""
    p = plan(registry.QUERIES["multimodal_aspect_bucket"](spark, SF_DIR))
    tree = p.split("\n\n")[0]
    assert "ReadSchema: struct<vec_id:bigint>" in p
    assert tree.count("Exchange") == 1
    assert "Join" not in tree
    assert "Window" not in tree


def test_copurchase_freq_joins_broadcast(spark):
    """graph_copurchase_projection's per-part frequency joins carry NO
    user broadcast hint (a hint is honored past the threshold and would
    OOM at 100 TB; AQE demotes only size-ESTIMATED broadcasts) — the
    optimizer sizes the freq relation itself, broadcasting at dim scale
    and degrading to shuffle-hash/sort-merge past the threshold. The
    gate therefore accepts EITHER hash-join strategy (never a nested
    loop). What it pins unconditionally: every join is an equi-join
    (the pair expansion keys on the order id), no cartesian product,
    no window."""
    p = plan(registry.QUERIES["graph_copurchase_projection"](spark, SF_DIR))
    tree = p.split("\n\n")[0]
    equi_joins = (
        tree.count("BroadcastHashJoin")
        + tree.count("ShuffledHashJoin")
        + tree.count("SortMergeJoin")
    )
    assert equi_joins >= 3  # pair self-join + two freq joins
    # the single 1-row total crossJoin is the only allowed NL join
    assert tree.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in tree
    assert "Window" not in tree


def test_bm25_topk_is_take_ordered(spark):
    """llm_bm25_topdocs' ranked cut must compile to
    TakeOrderedAndProject (per-partition top-k heap), never a global
    Sort feeding a Limit; the idf/avgdl sides come back broadcast."""
    p = plan(registry.QUERIES["llm_bm25_topdocs"](spark, SF_DIR))
    tree = p.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree
    assert "BroadcastHashJoin" in tree or "BroadcastNestedLoopJoin" in tree
    assert "CartesianProduct" not in tree


def test_token_budget_window_is_partitioned(spark):
    """sample_token_budget's running sum must window over the source
    hash partition — exactly one exchange on source feeding both the
    window and the final agg (same partitioning, reused), and no
    empty/global window spec (a global ORDER BY would single-task the
    corpus at 100 TB)."""
    p = plan(registry.QUERIES["sample_token_budget"](spark, SF_DIR))
    tree = p.split("\n\n")[0]
    assert "Window" in tree
    assert "windowspecdefinition()" not in p
    assert "CartesianProduct" not in tree
    ex = [ln for ln in p.splitlines() if "Arguments: hashpartitioning" in ln]
    assert len(ex) == 1, f"expected one source exchange, got: {ex}"


def test_temperature_mix_stays_broadcast(spark):
    """llm_temperature_mix is one corpus aggregate plus algebra on a
    |domains|-row relation: the two 1-row totals must ride along as
    broadcast joins, never shuffles of the domain relation, and no
    window/cartesian may appear."""
    p = plan(registry.QUERIES["llm_temperature_mix"](spark, SF_DIR))
    tree = p.split("\n\n")[0]
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in tree
    assert "Window" not in tree


def test_quality_calibration_no_global_window(spark):
    """llm_quality_calibration buckets map-side (no ntile): its only
    window is the dup-count over the normalized text key — partitioned,
    never a global/empty window spec."""
    p = plan(registry.QUERIES["llm_quality_calibration"](spark, SF_DIR))
    assert "windowspecdefinition()" not in p
    tree = p.split("\n\n")[0]
    assert "CartesianProduct" not in tree


def test_not_in_null_semantics_single_plan(spark):
    """filter_not_in_null_semantics returns ONE plan whose three counts
    are scalar subqueries (r10 verdict #6: no driver-side .collect()
    re-entering via createDataFrame). The two NOT IN branches must plan
    Spark's null-aware anti join machinery (LeftAnti over a broadcast
    build side), and there must be exactly three hosted subqueries."""
    p = plan(registry.QUERIES["filter_not_in_null_semantics"](spark, SF_DIR))
    assert p.count("Hosting Expression = Subquery subquery") == 3
    assert p.count("LeftAnti") >= 3
    assert "LocalTableScan" not in p  # no createDataFrame re-entry
    assert "CartesianProduct" not in p


def test_udtf_python_arrow_plan(spark):
    """udtf_python_arrow must run the REAL Spark 4 @udtf path with
    Arrow batching: the plan carries an ArrowEvalPythonUDTF node (not
    BatchEvalPythonUDTF — pickled row-at-a-time transfer — and not a
    builtin Generate), and the UDTF is embarrassingly parallel: zero
    Exchange, output partitioning inherited from the scan."""
    p = plan(registry.QUERIES["udtf_python_arrow"](spark, SF_DIR))
    tree = p.split("\n\n")[0]
    assert "ArrowEvalPythonUDTF" in tree
    assert "BatchEvalPythonUDTF" not in tree
    assert "Exchange" not in tree


def test_gopher_repetition_zero_shuffle(spark):
    """llm_gopher_repetition's repetition signals must be pure map-side
    expressions: split -> zip_with bigrams -> array_sort -> aggregate()
    run-length scan, ZERO Exchange and zero Python. The corpus-level
    alternative (explode bigrams -> groupBy(doc_id, bigram) -> max)
    would shuffle |corpus| bigram rows; the per-doc array form makes
    the quality flag ride the initial scan at any scale."""
    p = plan(registry.QUERIES["llm_gopher_repetition"](spark, SF_DIR))
    tree = p.split("\n\n")[0]
    assert "Exchange" not in tree
    assert "Python" not in tree  # no UDF fallback
    assert "Generate" not in tree  # no explode — arrays stay arrays


def test_interval_overlap_is_bucket_blocked_hash_join(spark):
    """join_interval_overlap must run as a broadcast HASH join on the
    month-bucket equi key — never a BroadcastNestedLoopJoin or
    CartesianProduct over the raw overlap predicate. The LIMIT-capped
    campaign dimension must compile to TakeOrderedAndProject (no full
    sort), and the final per-campaign aggregate must be partial
    (map-side HashAggregate) before its single Exchange."""
    p = plan(registry.QUERIES["join_interval_overlap"](spark, SF_DIR))
    tree = p.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "CartesianProduct" not in tree
    assert "TakeOrderedAndProject" in tree
    assert tree.count("HashAggregate") >= 2  # partial + final


def test_ccnet_bucket_assignment_has_no_global_window(spark):
    """llm_ccnet_perplexity_bucket assigns buckets by comparing to two
    broadcast per-language cutoffs — NOT by a global NTILE, which would
    move the whole scored corpus into one partition. Since round 12 the
    cutoffs are order-exact ranks over the compact (lang, avg_nll)
    count GRID, which legitimately uses per-language windows — but only
    hash-partitioned ones over the post-aggregate grid: the plan must
    contain no SinglePartition window anywhere, every Window must be
    partitioned (by lang), and the cutoff join must be a broadcast."""
    df = registry.QUERIES["llm_ccnet_perplexity_bucket"](spark, SF_DIR)
    p = plan(df)
    tree = p.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "Python" not in tree  # pure codegen scoring
    simple = plan(df, mode="simple")
    # every Window is PARTITIONED by lang (windowspecdefinition's first
    # arg) and ranks the grid's avg_nll values — no unpartitioned/NTILE
    # window ever sees corpus-sized input. (A SinglePartition exchange
    # DOES exist in the plan: the 1-row scalar-total aggregate under
    # the broadcast, which is partial-aggregated and fine.)
    win_lines = [l for l in simple.split("\n") if "windowspecdefinition" in l]
    assert win_lines, "expected the grid rank windows in the plan"
    for line in win_lines:
        assert "windowspecdefinition(lang" in line
        assert "ntile" not in line
    assert "hashpartitioning(lang" in simple


def test_bpe_encode_broadcasts_vocab_and_aggs_corpus_once(spark):
    """llm_bpe_encode's final plan must join the corpus-side (lang,
    word, cnt) aggregate against the encoded vocabulary via a
    BroadcastHashJoin (the vocab is bounded; the corpus side must never
    re-shuffle for the join), with the corpus aggregation partial
    (map-side HashAggregate) before its single Exchange. No Python
    anywhere — encode is chained codegen string replaces."""
    p = plan(registry.QUERIES["llm_bpe_encode"](spark, SF_DIR))
    tree = p.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree
    assert "CartesianProduct" not in tree
    assert "Python" not in tree
    assert tree.count("HashAggregate") >= 2  # partial + final


def test_asof_nearest_single_shuffle_no_join(spark):
    """join_asof_nearest must keep join_asof's scalable shape: the
    union+window formulation with exactly ONE Exchange (on user_id) and
    ONE Sort feeding every window frame — no join operator of any kind
    (the O(n*m) range-join + row_number alternative) and no second
    shuffle between the prev/next frames."""
    p = plan(registry.QUERIES["join_asof_nearest"](spark, SF_DIR))
    tree = p.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert tree.count("Sort") == 1
    assert "Join" not in tree
    assert "CartesianProduct" not in tree
    assert "Window" in tree


def test_lttb_broadcast_anchors_no_window(spark):
    """ts_downsample_lttb's anchors (per-series extent, per-bucket
    sums) must reach the point relation as BROADCAST joins — the keyed
    side is bounded by series x B — and the per-bucket argmax must be a
    map-side-combined max_by aggregate, never a row_number window over
    the raw series."""
    p = plan(registry.QUERIES["ts_downsample_lttb"](spark, SF_DIR))
    tree = p.split("\n\n")[0]
    assert "Window" not in tree
    assert tree.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in tree
    assert "CartesianProduct" not in tree


def test_regression_agg_is_partial_hash_agg(spark):
    """agg_regression_by_group's REGR_* fits are algebraic aggregates:
    the plan must show a map-side partial HashAggregate before a single
    Exchange — the shuffle carries merged moment tuples, never rows."""
    p = plan(registry.QUERIES["agg_regression_by_group"](spark, SF_DIR))
    tree = p.split("\n\n")[0]
    assert tree.count("HashAggregate") >= 2
    assert tree.count("Exchange") == 1
    assert "Window" not in tree


def test_char_entropy_is_zero_shuffle_codegen(spark):
    """llm_char_entropy_filter must compile to a pure map plan: ZERO
    Exchange (the signal rides the corpus scan — the quality-flag
    contract shared with llm_gopher_repetition) and zero Python."""
    p = plan(registry.QUERIES["llm_char_entropy_filter"](spark, SF_DIR))
    tree = p.split("\n\n")[0]
    assert "Exchange" not in tree
    assert "Python" not in tree


def test_mime_sniff_is_zero_shuffle_codegen(spark):
    """multimodal_mime_sniff: binary construct + prefix classify is a
    pure map plan — zero Exchange, zero Python."""
    p = plan(registry.QUERIES["multimodal_mime_sniff"](spark, SF_DIR))
    tree = p.split("\n\n")[0]
    assert "Exchange" not in tree
    assert "Python" not in tree


def test_wimbd_topk_is_takeordered_not_global_sort(spark):
    """llm_wimbd_topngrams: the k=50 cut must be TakeOrderedAndProject
    over the partially-aggregated counts (never a global Sort of the
    full ngram vocabulary), with map-side combine before the single
    count Exchange; the rank window touches only the 50 survivors."""
    p = plan(registry.QUERIES["llm_wimbd_topngrams"](spark, SF_DIR))
    tree = p.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree
    assert tree.count("HashAggregate") >= 2  # partial + final
    assert "Python" not in tree


def test_wilson_ci_single_exchange_partial_agg(spark):
    """agg_ratio_ci_wilson: one map-side-combined aggregation — exactly
    one Exchange in the plan, partial+final HashAggregate, interval math
    per-row codegen."""
    p = plan(registry.QUERIES["agg_ratio_ci_wilson"](spark, SF_DIR))
    tree = p.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert tree.count("HashAggregate") >= 2
    assert "Python" not in tree
