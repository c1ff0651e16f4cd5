"""ETL maintenance operators — upsert, history tracking, data quality.

The reference is an ingest pipeline (SURVEY.md §0.1); a production
deployment of one always grows these table-maintenance jobs around it:
merge-upsert of late/corrected records into a snapshot, type-2 history
of changing values, column profiling, and referential integrity checks
between fact and dimension loads. All are pure DataFrame compositions —
no UDFs — so Catalyst plans them like any other query.

100 TB posture: upsert and SCD2 shuffle once on the business key (the
same partitioning their window functions need — one exchange total);
profiling is a single map-side-combinable pass; the FK check is a
left-anti join that ships only the key column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flume_hive_batch_sink_spark.io import data_files, load, scratch_dir
from flume_hive_batch_sink_spark.registry import query


@query(
    "etl_merge_upsert",
    oracle="""
    WITH unioned AS (
      SELECT user_id, ts, value, 1 AS is_update
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-20' AND event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, value, 0 AS is_update
      FROM events
      WHERE ts < TIMESTAMP '2024-01-20' AND event_type = 'purchase'
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY is_update DESC, ts DESC
      ) AS rn
      FROM unioned
    )
    SELECT user_id, ts AS latest_ts, ROUND(value, 2) AS latest_value,
           is_update
    FROM ranked WHERE rn = 1
    """,
)
def etl_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD1 merge-upsert: a base snapshot (purchases before Jan 20) is
    merged with an update batch (on/after Jan 20); updates win on key
    collision, otherwise the freshest base row stands. Expressed as
    union + one window over the business key — the MERGE INTO plan
    shape without requiring a transactional table format. One shuffle
    on user_id; at 100 TB the update batch is typically <1% of the
    snapshot, and this plan never rewrites unmatched base partitions
    early (the window filter drops them before any write)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    base = ev.filter(F.col("ts") < "2024-01-20").withColumn(
        "is_update", F.lit(0)
    )
    updates = ev.filter(F.col("ts") >= "2024-01-20").withColumn(
        "is_update", F.lit(1)
    )
    unioned = updates.unionByName(base).select(
        "user_id", "ts", "value", "is_update"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("is_update").desc(), F.col("ts").desc()
    )
    return (
        unioned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("latest_ts"),
            F.round("value", 2).alias("latest_value"),
            "is_update",
        )
    )


@query(
    "etl_scd2_history",
    oracle="""
    SELECT user_id,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           ROUND(value, 2) AS value,
           CASE WHEN lead(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
           ) IS NULL THEN 1 ELSE 0 END AS is_current
    FROM events
    WHERE event_type = 'signup'
    """,
)
def etl_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing history: each change event becomes a
    versioned row with [valid_from, valid_to) effectivity derived from
    the next change of the same key — the standard lead-window
    construction. event_id tiebreaks equal timestamps so the interval
    chain is deterministic. One shuffle on user_id."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        F.round("value", 2).alias("value"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


@query(
    "dq_profile",
    oracle="""
    SELECT 'o_totalprice' AS column_name,
           count(*) AS n_rows,
           count(o_totalprice) AS n_nonnull,
           count(DISTINCT o_totalprice) AS n_distinct,
           CAST(ROUND(min(o_totalprice), 2) AS VARCHAR) AS min_value,
           CAST(ROUND(max(o_totalprice), 2) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*), count(o_orderpriority),
           count(DISTINCT o_orderpriority),
           min(o_orderpriority), max(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(o_custkey),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    """,
)
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the load-validation step of an ingest
    pipeline): per-column row/non-null/distinct counts and min/max,
    emitted as one narrow row per column. Each column's stats are one
    aggregate over the same cached scan; Catalyst collapses the union
    of four single-row aggregates into parallel stages. At 100 TB,
    swap count(DISTINCT) for approx_count_distinct — the exact form is
    kept here because the oracle must hash-match."""
    o = load(spark, sf_dir, "orders")

    def prof(col: str, fmt) -> DataFrame:
        return o.agg(
            F.lit(col).alias("column_name"),
            F.count("*").alias("n_rows"),
            F.count(col).alias("n_nonnull"),
            F.countDistinct(col).alias("n_distinct"),
            fmt(F.min(col)).alias("min_value"),
            fmt(F.max(col)).alias("max_value"),
        )

    price = prof("o_totalprice", lambda c: F.round(c, 2).cast("string"))
    status = prof("o_orderstatus", lambda c: c)
    prio = prof("o_orderpriority", lambda c: c)
    cust = prof("o_custkey", lambda c: c.cast("string"))
    return price.unionByName(status).unionByName(prio).unionByName(cust)


@query(
    "dq_referential_check",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk, count(*) AS n_orphans
    FROM (
      SELECT l.l_orderkey FROM lineitem l
      WHERE NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    )
    UNION ALL
    SELECT 'orders.o_custkey->customer', count(*)
    FROM (
      SELECT o.o_custkey FROM orders o
      WHERE NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    )
    """,
)
def dq_referential_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit between loads: count fact rows whose
    foreign key has no match in the dimension (orphans). Left-anti
    joins ship only the key columns; a healthy load reports zeros, and
    the operator's output is the audit row either way."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    orphan_li = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(
            F.lit("lineitem.l_orderkey->orders").alias("fk"),
            F.count("*").alias("n_orphans"),
        )
    )
    orphan_o = (
        o.select("o_custkey")
        .join(c.select("c_custkey"), o.o_custkey == c.c_custkey, "left_anti")
        .agg(
            F.lit("orders.o_custkey->customer").alias("fk"),
            F.count("*").alias("n_orphans"),
        )
    )
    return orphan_li.unionByName(orphan_o)


@query(
    "etl_compact_small_files",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           true AS files_reduced, true AS rows_conserved
    FROM events
    """,
)
def etl_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance job every long-running
    ingest pipeline needs: a fragmented table (many tiny files, here
    forced via maxRecordsPerFile) is rewritten into size-targeted files
    with row-for-row conservation. The rewrite is one repartition to
    ceil(bytes / 128 MB) output files — the 128–512 MB file-size
    discipline from SCALE.md — and never touches the driver. The result
    certifies the invariants (fewer files, zero row drift) alongside the
    oracle-checked row count; file counts themselves aren't SQL-visible,
    so they ride as booleans."""
    import math
    import os as _os

    ev = load(spark, sf_dir, "events")
    base = scratch_dir("compact_")
    frag_dir = _os.path.join(base, "fragmented")
    out_dir = _os.path.join(base, "compacted")
    # simulate a fragmented ingest output: many writers, tiny roll size.
    # Round-15: the roll size is derived from the row count so the
    # fragment count is BOUNDED (~256 files) instead of linear in the
    # corpus (200 rows/file = 500 files at sf0.1, 5k at sf1 — the
    # simulation itself became the small-files problem it demonstrates).
    # ≤ sf0.01 scale the floor keeps the original 200-row rolls, so the
    # driver-tier fixture and the oracle-checked output are unchanged.
    n_rows_src = ev.count()
    roll = max(200, math.ceil(n_rows_src / 256))
    ev.repartition(16).write.mode("overwrite").option(
        "maxRecordsPerFile", roll
    ).parquet(frag_dir)

    frag_files = data_files(frag_dir)
    frag_bytes = sum(size for _p, size in frag_files)
    target_files = max(1, math.ceil(frag_bytes / (128 << 20)))
    back = spark.read.parquet(frag_dir)
    back.repartition(target_files).write.mode("overwrite").parquet(out_dir)

    compacted = spark.read.parquet(out_dir)
    n_after = len(data_files(out_dir))
    return compacted.agg(F.count("*").alias("n_rows")).select(
        F.col("n_rows").cast("long"),
        F.lit(n_after < len(frag_files)).alias("files_reduced"),
        (F.col("n_rows") == n_rows_src).alias("rows_conserved"),
    )


@query(
    "etl_schema_evolution",
    oracle="""
    WITH v1 AS (
      SELECT event_id, user_id, value, CAST(NULL AS VARCHAR) AS event_type
      FROM events WHERE event_id % 2 = 0
    ), v2 AS (
      SELECT event_id, user_id, value, event_type
      FROM events WHERE event_id % 2 = 1
    ), merged AS (
      SELECT * FROM v1 UNION ALL SELECT * FROM v2
    )
    SELECT coalesce(event_type, '(legacy)') AS event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value
    FROM merged GROUP BY 1
    """,
)
def etl_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across ingest generations — the long-running
    pipeline reality the reference's fixed Hive DDL sidesteps: an old
    batch written without a column and a new batch written with it are
    read back as ONE table via parquet mergeSchema, with the missing
    column null-filled for legacy rows. The split is deterministic
    (event_id parity) so the oracle reproduces the merged relation with
    a NULL-padded union. At scale mergeSchema costs one footer read per
    file — pin the unified schema explicitly once it stabilizes."""
    import os as _os

    ev = load(spark, sf_dir, "events")
    base = scratch_dir("schema_evo_")
    v1_dir = _os.path.join(base, "gen=1")
    v2_dir = _os.path.join(base, "gen=2")
    ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "value"
    ).write.mode("overwrite").parquet(v1_dir)
    ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "value", "event_type"
    ).write.mode("overwrite").parquet(v2_dir)

    merged = spark.read.option("mergeSchema", "true").parquet(v1_dir, v2_dir)
    return merged.groupBy(
        F.coalesce("event_type", F.lit("(legacy)")).alias("event_type")
    ).agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


def _spread_bits(col):
    """Morton spread: 16-bit int -> even bit positions of a 32-bit int,
    via the binary-magic-numbers ladder (4 shift/mask steps — pure
    codegen-able integer ops, identical arithmetic on the oracle side)."""
    x = col.bitwiseAND(F.lit(0xFFFF))
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
    return x


_DUCK_SPREAD = """
      SELECT {cols},
             ((s3 | (s3 << 1)) & 1431655765) AS {out}
      FROM (SELECT {cols},
                   ((s2 | (s2 << 2)) & 858993459) AS s3
            FROM (SELECT {cols},
                         ((s1 | (s1 << 4)) & 252645135) AS s2
                  FROM (SELECT {cols},
                               ((s0 | (s0 << 8)) & 16711935) AS s1
                        FROM (SELECT {cols}, ({src} & 65535) AS s0
                              FROM {rel}) t0) t1) t2) t3
"""


@query(
    "etl_zorder_layout",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey,
             CAST(o_custkey % 65536 AS BIGINT) AS x,
             CAST(CAST(floor(o_totalprice) AS BIGINT) % 65536 AS BIGINT) AS y
      FROM orders
    ),
    sx AS ({_DUCK_SPREAD.format(cols="o_orderkey, x, y", src="x", out="zx", rel="base")}),
    sy AS ({_DUCK_SPREAD.format(cols="o_orderkey, zx, x, y", src="y", out="zy", rel="sx")}),
    z AS (SELECT o_orderkey, x, y, (zx | (zy << 1)) AS zval FROM sy)
    SELECT CAST(zval >> 26 AS BIGINT) AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
           CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y,
           CAST(MIN(zval) AS BIGINT) AS min_z, CAST(MAX(zval) AS BIGINT) AS max_z
    FROM z GROUP BY 1
    """,
)
def etl_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout clustering: interleave the bits of
    two filter columns into one sort key, bucket rows by z-range, and
    report per-bucket min/max envelopes — the data-skipping layout
    technique behind Delta/Iceberg OPTIMIZE ZORDER. A range predicate on
    EITHER column now prunes most buckets by their min/max stats,
    because the Morton curve keeps both coordinates locally bounded
    within each z-range (a single-column sort gives skipping on one
    column only).

    100 TB shape: the z-value is 4 shift/mask steps per column — pure
    whole-stage-codegen integer ops, no UDF — and the bucket id is a
    constant shift, so layout assignment is map-side; the per-bucket
    stats aggregation is the only shuffle (by the 64-value bucket id; a
    real table write would ``repartitionByRange(zval)`` with the same
    key). The oracle replays the identical bit ladder in DuckDB —
    engine-exact integers end-to-end.
    """
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 65536).alias("x"),
        (F.floor("o_totalprice").cast("bigint") % 65536).alias("y"),
    )
    z = base.select(
        "x",
        "y",
        _spread_bits(F.col("x"))
        .bitwiseOR(F.shiftleft(_spread_bits(F.col("y")), 1))
        .alias("zval"),
    )
    return z.groupBy(F.shiftright("zval", 26).cast("bigint").alias("file_id")).agg(
        F.count("*").alias("n_rows"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
        F.min("zval").cast("bigint").alias("min_z"),
        F.max("zval").cast("bigint").alias("max_z"),
    )


@query(
    "etl_incremental_agg_merge",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           round(SUM(CAST(value AS DECIMAL(18,4))), 2) :: DOUBLE AS sum_value,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM events GROUP BY event_type
    """,
)
def etl_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a grouped aggregate: an existing
    snapshot (80% of events by event_id mod) is merged with a delta
    batch (the other 20%) WITHOUT rescanning the base — full-outer join
    of the two partial aggregates, combining with the aggregate's merge
    law (count: +, sum: +, max: greatest). The oracle recomputes from
    scratch over the whole table; equality proves the merge law holds,
    which is the correctness core of any incremental rollup pipeline
    (the streaming twin is stream_agg_update's update-mode state).

    100 TB shape: the snapshot side is a stored aggregate (tiny — one
    row per group), so maintenance cost is O(delta) scan + a join on the
    group key, instead of O(base+delta) rescan. Sums run in
    DECIMAL(18,4) on both sides so the base+delta addition order cannot
    drift from the oracle's single-pass float sum.
    """
    ev = load(spark, sf_dir, "events")

    def agg_of(df):
        return df.groupBy("event_type").agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
            F.max("event_id").alias("max_event_id"),
        )

    snap = agg_of(ev.filter(F.col("event_id") % 10 < 8))
    delta = agg_of(ev.filter(F.col("event_id") % 10 >= 8))
    s, d = snap.alias("s"), delta.alias("d")
    return (
        s.join(d, F.col("s.event_type") == F.col("d.event_type"), "full_outer")
        .select(
            F.coalesce("s.event_type", "d.event_type").alias("event_type"),
            (
                F.coalesce("s.n_rows", F.lit(0)) + F.coalesce("d.n_rows", F.lit(0))
            ).alias("n_rows"),
            F.round(
                F.coalesce("s.sum_value", F.lit(0).cast("decimal(18,4)"))
                + F.coalesce("d.sum_value", F.lit(0).cast("decimal(18,4)")),
                2,
            )
            .cast("double")
            .alias("sum_value"),
            F.greatest(
                F.coalesce("s.max_event_id", F.lit(-1)),
                F.coalesce("d.max_event_id", F.lit(-1)),
            ).alias("max_event_id"),
        )
    )


@query(
    "etl_table_diff",
    oracle="""
    WITH v1 AS (
      SELECT event_id, event_type, value FROM events WHERE event_id % 11 <> 0
    ),
    v2 AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN round(value * 1.1, 4)
                  ELSE value END AS value
      FROM events WHERE event_id % 13 <> 0
    ),
    j AS (
      SELECT COALESCE(a.event_id, b.event_id) AS event_id,
             CASE WHEN a.event_id IS NULL THEN 'added'
                  WHEN b.event_id IS NULL THEN 'removed'
                  WHEN a.value <> b.value OR a.event_type <> b.event_type
                       THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM v1 a FULL OUTER JOIN v2 b ON a.event_id = b.event_id
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n
    FROM j GROUP BY status
    """,
)
def etl_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table reconciliation (anti-entropy audit): diff two versions of a
    landed table — v2 drops some rows, adds others, and mutates a
    deterministic subset — and classify every key as added / removed /
    changed / unchanged. This is the audit a replayed at-least-once sink
    (the reference's Flume semantics) runs to prove the landed table
    converged to the source of truth after redeliveries.

    100 TB shape: one full-outer sort-merge join on the key with a
    row-comparison projection — no driver state; in production the
    comparison column is a per-row hash (xxhash64 of the normalized
    row) so wide tables diff at 8 bytes/row shuffle, and the join keys
    are bucketed so repeated audits reuse the layout (the
    join_bucketed_colocated pattern). Versions here are deterministic
    slices/mutations of events, replayed identically by the oracle;
    value mutation uses round(·,4) to stay float-exact on both sides."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    v1 = ev.filter(F.col("event_id") % 11 != 0)
    v2 = ev.filter(F.col("event_id") % 13 != 0).select(
        "event_id",
        "event_type",
        F.when(
            F.col("event_id") % 7 == 0, F.round(F.col("value") * 1.1, 4)
        )
        .otherwise(F.col("value"))
        .alias("value"),
    )
    a, b = v1.alias("a"), v2.alias("b")
    j = a.join(b, F.col("a.event_id") == F.col("b.event_id"), "full_outer").select(
        F.when(F.col("a.event_id").isNull(), "added")
        .when(F.col("b.event_id").isNull(), "removed")
        .when(
            (F.col("a.value") != F.col("b.value"))
            | (F.col("a.event_type") != F.col("b.event_type")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("status")
    )
    return j.groupBy("status").agg(F.count("*").alias("n"))


@query(
    "etl_cdc_apply",
    oracle="""
    WITH log AS (
      SELECT user_id, ts, event_id, value,
             CASE event_type WHEN 'signup' THEN 'I'
                             WHEN 'error' THEN 'D'
                             ELSE 'U' END AS op
      FROM events
    ), ranked AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
      FROM log
    )
    SELECT user_id, op AS final_op, ROUND(value, 2) AS final_value,
           ts AS last_ts, n_ops
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def etl_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log apply: the events table read as an ordered change stream
    (signup=INSERT, error=DELETE, anything else=UPSERT) collapsed to
    final table state — last writer wins per key, keys whose final op
    is DELETE vanish. One shuffle on the key feeds BOTH the recency
    rank and the op count (same window partitioning), so applying a
    100 TB change log costs a single hash partition pass; at scale the
    log would be bucketed by key so daily applies are shuffle-free.
    (ts, event_id) total order makes replay deterministic — the same
    guarantee the dedup_replay ingest path relies on."""
    ev = load(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
    )
    log = ev.select("user_id", "ts", "event_id", "value", op.alias("op"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wc = Window.partitionBy("user_id")
    ranked = log.select(
        "user_id",
        F.col("op"),
        "value",
        "ts",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n_ops"),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("op") != "D")).select(
        "user_id",
        F.col("op").alias("final_op"),
        F.round("value", 2).alias("final_value"),
        F.col("ts").alias("last_ts"),
        "n_ops",
    )


@query(
    "etl_dynamic_partition_overwrite",
    oracle="""
    WITH merged AS (
      SELECT strftime(ts, '%Y-%m-%d') AS dt, value
      FROM events WHERE strftime(ts, '%Y-%m-%d') < '2024-01-20'
      UNION ALL
      SELECT strftime(ts, '%Y-%m-%d') AS dt, value * 2 AS value
      FROM events
      WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-20'
        AND event_type = 'purchase'
    )
    SELECT dt, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value
    FROM merged GROUP BY dt
    """,
)
def etl_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the idempotent-backfill primitive:
    a correction batch (doubled purchase values for Jan 20+) overwrites
    ONLY the day-partitions it contains; untouched history is never
    rewritten or even listed. Both writes go through the engine's one
    Hive-partitioned writer (ingest.hive_partitioned_write_path), whose
    writer-scoped ``partitionOverwriteMode=dynamic`` is Spark's native
    INSERT OVERWRITE (the semantics a Hive-partitioned sink needs for
    exactly-once replays — the reference's batch-replace analogue).
    The read-back aggregate shows
    partitions >= the cutoff now contain only the correction batch.
    At 100 TB this is THE mechanism that bounds a backfill's write
    amplification to the touched partitions."""
    import os as _os
    import shutil
    import tempfile

    from flume_hive_batch_sink_spark.operators.ingest import (
        hive_partitioned_write_path,
    )

    ev = load(spark, sf_dir, "events").withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    base = tempfile.mkdtemp(prefix="dpo_")
    try:
        tbl = _os.path.join(base, "events_by_dt")
        hive_partitioned_write_path(
            ev.select("event_id", "value", "event_type", "dt"),
            tbl,
            partition_cols=("dt",),
        )

        corrections = (
            ev.filter(
                (F.col("dt") >= "2024-01-20")
                & (F.col("event_type") == "purchase")
            )
            .withColumn("value", F.col("value") * 2)
            .select("event_id", "value", "event_type", "dt")
        )
        # the writer's overwrite is dynamic and writer-scoped: only the
        # corrected days are replaced, and the session conf is untouched
        hive_partitioned_write_path(corrections, tbl, partition_cols=("dt",))

        # partition-type inference turns the dt directory key back into
        # DATE; the written value (and the oracle contract) is the
        # yyyy-MM-dd string, so pin the read-back type explicitly.
        back = spark.read.parquet(tbl).withColumn(
            "dt", F.col("dt").cast("string")
        )
        agg = back.groupBy("dt").agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        # materialize the (day-level, ~tens of rows) result before the
        # temp tree is removed — the returned plan must not depend on
        # files this finally block deletes. NOT a data-sized collect.
        return spark.createDataFrame(agg.collect(), agg.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@query(
    "dq_anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m ON e.event_type = m.event_type
    ), mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN ROUND(d.adev, 9) >
                              ROUND(3 * 1.4826 * m.mad, 9)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(MIN(d.med), 6) AS med,
           ROUND(m.mad, 6) AS mad
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type, m.mad
    """,
)
def dq_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier audit via median absolute deviation — the
    data-quality gate that survives the heavy tails that break
    z-scores: per group, flag rows whose |value − median| exceeds
    3·1.4826·MAD (the Gaussian-consistent robust sigma). Two exact
    median passes (each one hash agg) + a broadcast-joined flagging
    pass; the compare rounds both sides to 9 decimals so a last-ulp
    interpolated-median divergence can't flip a flag count across
    engines. At 100 TB swap exact medians for approx_percentile
    digests — the dataflow (aggregate → broadcast → map-only flag)
    is unchanged."""
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    is_out = F.round(F.col("adev"), 9) > F.round(3 * 1.4826 * F.col("mad"), 9)
    return flagged.groupBy("event_type", "mad").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(is_out, 1).otherwise(0)).alias("n_outliers"),
        F.round(F.min("med"), 6).alias("med"),
    ).select(
        "event_type",
        "n_rows",
        "n_outliers",
        "med",
        F.round("mad", 6).alias("mad"),
    )


@query(
    "dq_skew_audit",
    oracle="""
    WITH per_key AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ), ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, user_id) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n_keys
      FROM per_key
    )
    SELECT MIN(n_keys) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           MAX(n) AS max_rows,
           CAST(MIN(CASE WHEN rk = (n_keys + 99) // 100 THEN n END)
                AS BIGINT) AS p99_rows,
           CAST(ROUND(MAX(n) * MIN(n_keys) /
                      CAST(SUM(n) AS DOUBLE), 4) AS DOUBLE) AS skew_ratio
    FROM ranked
    """,
)
def dq_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew audit for a prospective partition key: per-key row
    counts reduced to the metrics that predict whether a join/agg on
    this key survives 1000 executors — max key size, rank-selected
    p99, and skew_ratio = max/avg (1.0 = uniform; >> 1 = one reducer
    eats the key). THE diagnostic to run before choosing bucket
    columns or deciding a salted join is needed (join_skew_salted is
    the mitigation this audit triggers). One hash agg on the key +
    one tiny metric pass; the p99 is rank-selected (integer
    (n_keys+99) div 100), not interpolated.

    Plan shape (zero WindowExec — gated in tests/test_plans.py): the
    earlier version rank-windowed the per-key relation, a single-task
    global sort of |keys| rows — the exact skew failure this audit
    exists to predict, self-inflicted, when the audited key has
    cluster-scale cardinality (round-7/8 verdicts' standing
    scale-killer). The k-th-largest count is tie-invariant, so it is
    instead read off the COUNT-OF-COUNTS histogram: per-key counts
    collapse to (n, #keys-with-that-count) — cardinality = distinct
    count VALUES, bounded by the largest single-key count, orders of
    magnitude below |keys| — and the cumulative rank is a broadcast
    ≥-self-join of that histogram with itself (O(h²) on a tiny h beats
    any global sort of |keys|). p99 is the unique histogram row whose
    cumulative key count first reaches k; all other metrics are plain
    algebra on the same histogram. The oracle keeps the rank-window
    formulation — same value, independently derived."""
    ev = load(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    hist = per_key.groupBy("n").agg(F.count("*").alias("cnt"))
    totals = hist.agg(
        F.sum("cnt").alias("n_keys"),
        F.sum(F.col("n") * F.col("cnt")).alias("n_rows"),
        F.max("n").alias("max_rows"),
    )
    cum = (
        hist.alias("a")
        .join(F.broadcast(hist.alias("b")), F.col("b.n") >= F.col("a.n"))
        .groupBy(F.col("a.n").alias("n"), F.col("a.cnt").alias("cnt"))
        .agg(F.sum(F.col("b.cnt")).alias("cum"))
    )
    p99 = (
        cum.crossJoin(
            F.broadcast(
                totals.select(F.expr("(n_keys + 99) div 100").alias("k"))
            )
        )
        .filter(
            (F.col("cum") >= F.col("k")) & (F.col("cum") - F.col("cnt") < F.col("k"))
        )
        .select(F.col("n").alias("p99"))
    )
    # LEFT join (not crossJoin): on an empty events table totals still
    # yields its one all-NULL aggregate row while p99 is empty — a cross
    # join would drop the row and diverge from the oracle's windowed
    # formulation, which keeps one NULL row on degenerate input.
    return totals.join(F.broadcast(p99), F.lit(True), "left").select(
        "n_keys",
        "n_rows",
        "max_rows",
        F.col("p99").cast("long").alias("p99_rows"),
        F.round(
            F.col("max_rows") * F.col("n_keys") / F.col("n_rows").cast("double"), 4
        ).cast("double").alias("skew_ratio"),
    )


@query(
    "etl_cascade_delete_audit",
    oracle="""
    WITH del AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    )
    SELECT 'customer' AS tbl,
           CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_before,
           CAST((SELECT count(*) FROM customer
                 WHERE c_custkey NOT IN (SELECT c_custkey FROM del))
                AS BIGINT) AS n_after,
           CAST((SELECT count(*) FROM del) AS BIGINT) AS n_deleted
    UNION ALL
    SELECT 'orders',
           CAST((SELECT count(*) FROM orders) AS BIGINT),
           CAST((SELECT count(*) FROM orders o
                 WHERE o.o_custkey NOT IN (SELECT c_custkey FROM del))
                AS BIGINT),
           CAST((SELECT count(*) FROM orders o
                 WHERE o.o_custkey IN (SELECT c_custkey FROM del))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l JOIN orders o
                   ON l.l_orderkey = o.o_orderkey
                 WHERE o.o_custkey NOT IN (SELECT c_custkey FROM del))
                AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l JOIN orders o
                   ON l.l_orderkey = o.o_orderkey
                 WHERE o.o_custkey IN (SELECT c_custkey FROM del))
                AS BIGINT)
    """,
)
def etl_cascade_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade: a deletion list of subject keys
    propagates through the FK graph (customer -> orders -> lineitem),
    and the audit reports per-table before/after/deleted counts — the
    compliance evidence a GDPR/CCPA erasure job must produce. Plan
    shape: the deletion list is tiny and BROADCAST into left-anti
    (survivors) and left-semi (victims) joins per table; lineitem has
    no direct customer key, so the cascade routes through orders —
    one broadcast-join hop per FK edge, never a full-table shuffle.
    At 100 TB the anti-join output rewrites only the partitions that
    contained victims (etl_dynamic_partition_overwrite is the write
    mechanism); this operator is the dry-run audit in front of it."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    # distinct attribute name (del_key) on the deletion list: the
    # customer-table audit is otherwise a self-join on the same
    # c_custkey attribute, held together only by Spark's
    # ambiguous-self-join heuristic — fragile across versions.
    del_keys = (
        c.filter(F.col("c_custkey") % 97 == 0)
        .select(F.col("c_custkey").alias("del_key"))
    )
    b_del = F.broadcast(del_keys)

    def audit(tbl, df, key, via=None):
        if via is not None:
            df = df.join(via, df.l_orderkey == via.o_orderkey).select(
                F.col("o_custkey").alias("k"), "l_orderkey"
            )
            key = "k"
        survivors = df.join(
            b_del, F.col(key) == F.col("del_key"), "left_anti"
        ).count()
        victims = df.join(
            b_del, F.col(key) == F.col("del_key"), "left_semi"
        ).count()
        return (tbl, df.count(), survivors, victims)

    rows = [
        audit("customer", c, "c_custkey"),
        audit("orders", o, "o_custkey"),
        audit("lineitem", li, None, via=o.select("o_orderkey", "o_custkey")),
    ]
    return spark.createDataFrame(
        rows, "tbl STRING, n_before BIGINT, n_after BIGINT, n_deleted BIGINT"
    )


@query(
    "dq_constraint_suite",
    oracle="""
    WITH single_pass AS (
      SELECT
        CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS not_null_orderkey,
        CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS range_totalprice,
        CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                 THEN 1 ELSE 0 END) AS BIGINT) AS accepted_status,
        CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
                       OR o_orderdate > TIMESTAMP '2026-01-01'
                 THEN 1 ELSE 0 END) AS BIGINT) AS date_bounds
      FROM orders
    ), uniq AS (
      SELECT CAST(coalesce(SUM(cnt - 1), 0) AS BIGINT) AS dup_orderkeys
      FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_orderkey)
      WHERE cnt > 1
    ), fk AS (
      SELECT CAST(count(*) AS BIGINT) AS orphan_custkeys
      FROM orders o WHERE NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    )
    SELECT 'not_null:o_orderkey' AS constraint_name,
           not_null_orderkey AS n_violations FROM single_pass
    UNION ALL SELECT 'range:o_totalprice>0', range_totalprice FROM single_pass
    UNION ALL SELECT 'accepted:o_orderstatus', accepted_status FROM single_pass
    UNION ALL SELECT 'bounds:o_orderdate', date_bounds FROM single_pass
    UNION ALL SELECT 'unique:o_orderkey', dup_orderkeys FROM uniq
    UNION ALL SELECT 'fk:o_custkey->customer', orphan_custkeys FROM fk
    """,
)
def dq_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint suite (the deequ/dbt-test pattern): six
    table contracts — not-null, value range, accepted set, date
    bounds, key uniqueness, referential integrity — evaluated as ONE
    report. Cost model: the four row-local checks fuse into a SINGLE
    scan (conditional aggregation — adding a constraint is free);
    uniqueness is one hash agg on the key; the FK check is one
    broadcast anti join shipping only the key column. This is the
    schema-contract gate a Hive-loading pipeline runs before
    registering a partition (the reference's serializer assumes DDL
    conformance; this VERIFIES it) — violations route to
    ingest_dlq_routing's dlq rather than poisoning the table."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    sp = o.agg(
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
            "not_null_orderkey"
        ),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "range_totalprice"
        ),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        ).alias("accepted_status"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < "1992-01-01")
                | (F.col("o_orderdate") > "2026-01-01"),
                1,
            ).otherwise(0)
        ).alias("date_bounds"),
    )
    uniq = (
        o.groupBy("o_orderkey")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("dups"))
    )
    fk = o.join(
        F.broadcast(c.select("c_custkey")),
        o.o_custkey == F.col("c_custkey"),
        "left_anti",
    ).agg(F.count("*").alias("orphans"))

    def row(name, df, col):
        return df.select(
            F.lit(name).alias("constraint_name"),
            F.col(col).cast("long").alias("n_violations"),
        )

    return (
        row("not_null:o_orderkey", sp, "not_null_orderkey")
        .unionByName(row("range:o_totalprice>0", sp, "range_totalprice"))
        .unionByName(row("accepted:o_orderstatus", sp, "accepted_status"))
        .unionByName(row("bounds:o_orderdate", sp, "date_bounds"))
        .unionByName(row("unique:o_orderkey", uniq, "dups"))
        .unionByName(row("fk:o_custkey->customer", fk, "orphans"))
    )


@query(
    "dq_observe_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors,
           CAST(ROUND(SUM(CAST(ROUND(value, 4) AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS sum_value,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM events
    """,
)
def dq_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Observation/observe() API surface: named metrics attached to
    a DataFrame are collected AS A SIDE EFFECT of the action that
    consumes it — zero extra passes, the mechanism for per-batch audit
    counters in production pipelines (the reference's SinkCounter
    metrics, Spark-native; stream_foreachbatch_hive would attach these
    per epoch). The observed map is pulled once (driver scalars, the
    certificate convention) and re-emitted as the result so the oracle
    can pin the VALUES, proving the observation path reports exactly
    what a dedicated aggregation would."""
    from pyspark.sql import Observation

    ev = load(spark, sf_dir, "events")
    obs = Observation("audit")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("n_errors"),
        F.round(
            F.sum(F.round("value", 4).cast("decimal(18,4)")), 2
        ).cast("double").alias("sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["n_errors"]),
                float(m["sum_value"]),
                int(m["min_id"]),
                int(m["max_id"]),
            )
        ],
        "n_rows BIGINT, n_errors BIGINT, sum_value DOUBLE, "
        "min_id BIGINT, max_id BIGINT",
    )


@query(
    "etl_partition_manifest_checksum",
    oracle="""
    WITH rows_h AS (
      SELECT strftime(ts, '%Y-%m-%d') AS dt,
             CAST(('0x' || substr(md5(
               CAST(event_id AS VARCHAR) || '|' || event_type || '|'
               || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS BIGINT)
               AS h
      FROM events
    )
    SELECT dt, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(h) AS BIGINT) AS content_xor,
           CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_rows
    FROM rows_h GROUP BY dt
    """,
)
def etl_partition_manifest_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition manifest with content checksums — the integrity
    record a Hive-loading sink writes NEXT TO each done marker
    (done_marker says 'complete'; this says 'complete AND untampered'):
    per day-partition, the row count plus an ORDER-INDEPENDENT content
    checksum: bit_xor of per-row 60-bit hashes — XOR commutes AND is
    CLOSED over 64 bits, so the checksum is partition-order-free and
    can never overflow at any partition size (a SUM of 60-bit hashes
    overflows BIGINT at just 8 rows — the first draft of this operator
    proved it; ANSI Spark rightly refused). The n_distinct column
    additionally catches the XOR blind spot (a row replayed an EVEN
    number of times cancels out). Map-side hash + one hash agg."""
    ev = load(spark, sf_dir, "events")
    row_h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("event_id").cast("string"),
                    F.col("event_type"),
                    F.col("user_id").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        ev.select(
            F.date_format("ts", "yyyy-MM-dd").alias("dt"),
            row_h.alias("h"),
        )
        .groupBy("dt")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(h)").alias("content_xor"),
            F.countDistinct("h").alias("n_distinct_rows"),
        )
    )


@query(
    "etl_merge_commit_versions",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-20'
    ), upd AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-20'
    ), merged AS (
      SELECT user_id, value FROM (
        SELECT u.*, row_number() OVER (
          PARTITION BY user_id
          ORDER BY is_update DESC, ts DESC, event_id DESC) AS rn
        FROM (
          SELECT *, 1 AS is_update FROM upd
          UNION ALL
          SELECT *, 0 AS is_update FROM base) u
      ) WHERE rn = 1
    )
    SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value
    FROM base
    UNION ALL
    SELECT 2, CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT user_id) AS BIGINT),
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
    FROM merged
    """,
)
def etl_merge_commit_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with a real commit protocol (operators/table_commit.py):
    the base snapshot is committed as table version 1, then the update
    batch merges in as a copy-on-write version 2 — new data directory
    staged fully, then ONE atomic manifest rename publishes it, so a
    concurrent reader sees exactly v1 until the swap and exactly v2
    after (the isolation ``etl_merge_upsert``'s plain overwrite lacks;
    crash-mid-merge behavior proven in tests/test_table_commit.py).
    Both versions stay readable (time travel) until vacuumed; this key
    certifies both snapshots' aggregates through the manifest-pinned
    read path. O(changed data) write + O(1) metadata swap — the
    Iceberg/Delta commit kernel a 100 TB MERGE needs so readers never
    block or observe a half-rewritten table."""
    import shutil
    import tempfile

    from flume_hive_batch_sink_spark.operators import table_commit as tc

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    base = ev.filter(F.col("ts") < "2024-01-20").select(
        "event_id", "user_id", "ts", "value"
    )
    updates = ev.filter(F.col("ts") >= "2024-01-20").select(
        "event_id", "user_id", "ts", "value"
    )
    root = tempfile.mkdtemp(prefix="merge_commit_")
    try:
        tc.commit_version(base, root)
        tc.merge_commit(
            root, updates, key_cols=["user_id"], order_cols=["ts", "event_id"]
        )
        out = []
        for v in (1, 2):
            snap = tc.read_table(spark, root, version=v)
            r = snap.agg(
                F.count("*").alias("n_rows"),
                F.countDistinct("user_id").alias("n_users"),
                F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
                .cast("double")
                .alias("sum_value"),
            ).collect()[0]
            out.append((v, r["n_rows"], r["n_users"], r["sum_value"]))
        # tiny (2-row) certificate — materialized so the temp tree can go
        return spark.createDataFrame(
            out, "version INT, n_rows BIGINT, n_users BIGINT, sum_value DOUBLE"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "etl_multi_table_commit",
    oracle="""
    WITH cut1 AS (
      SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-20'
    ), f1 AS (
      SELECT event_id, user_id, value FROM cut1
      WHERE event_type = 'purchase'
    ), d1 AS (
      SELECT user_id FROM cut1 GROUP BY user_id
    ), f2 AS (
      SELECT event_id, user_id, value FROM events
      WHERE event_type = 'purchase'
    ), d2 AS (
      SELECT user_id FROM events GROUP BY user_id
    )
    SELECT 1 AS tx,
           (SELECT CAST(count(*) AS BIGINT) FROM f1) AS fact_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM d1) AS dim_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM f1
            WHERE user_id NOT IN (SELECT user_id FROM d1)) AS orphan_facts,
           (SELECT CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2)
                   AS DOUBLE) FROM f1) AS sum_value
    UNION ALL
    SELECT 2,
           (SELECT CAST(count(*) AS BIGINT) FROM f2),
           (SELECT CAST(count(*) AS BIGINT) FROM d2),
           (SELECT CAST(count(*) AS BIGINT) FROM f2
            WHERE user_id NOT IN (SELECT user_id FROM d2)),
           (SELECT CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2)
                   AS DOUBLE) FROM f2)
    """,
)
def etl_multi_table_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic multi-table snapshot commit (table_commit.commit_snapshot):
    a purchase fact table and its user dimension are committed TOGETHER
    — both staged, then ONE manifest rename publishes the pair — so a
    reader pinning the manifest once joins fact and dim at the same tx
    and never sees orphaned foreign keys from a mixed-version read (the
    failure a per-table overwrite permits when a job dies between the
    fact write and the dim write). Two transactions here: the Jan-20
    cut, then the full history; the certified invariant is
    orphan_facts = 0 at BOTH snapshots through the pinned-manifest read
    path. tests/test_table_commit.py additionally crashes between the
    two table writes and shows both tables stay at the old tx. Same
    100 TB shape as the single-table protocol: O(changed data) writes,
    O(1) atomic metadata swap covering the whole join graph."""
    import shutil
    import tempfile

    from flume_hive_batch_sink_spark.operators import table_commit as tc

    ev = load(spark, sf_dir, "events")

    def tables(cut):
        fact = cut.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "value"
        )
        dim = cut.groupBy("user_id").agg(
            F.min("ts").alias("first_ts"), F.count("*").alias("n_events")
        )
        return {"fact_purchases": fact, "dim_users": dim}

    root = tempfile.mkdtemp(prefix="multi_commit_")
    try:
        tc.commit_snapshot(tables(ev.filter(F.col("ts") < "2024-01-20")), root)
        manifests = [tc.current_tx(root)]
        tc.commit_snapshot(tables(ev), root)
        manifests.append(tc.current_tx(root))

        out = []
        for m in manifests:
            fact = tc.read_snapshot(spark, root, "fact_purchases", tx=m)
            dim = tc.read_snapshot(spark, root, "dim_users", tx=m)
            orphans = fact.join(
                dim.select("user_id"), "user_id", "left_anti"
            ).count()
            r = fact.agg(
                F.count("*").alias("n"),
                F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
                .cast("double")
                .alias("s"),
            ).collect()[0]
            out.append((m["tx"], r["n"], dim.count(), orphans, r["s"]))
        return spark.createDataFrame(
            out,
            "tx INT, fact_rows BIGINT, dim_rows BIGINT, "
            "orphan_facts BIGINT, sum_value DOUBLE",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "dq_benford",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM lineitem
    ),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM digits),
    obs AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM digits
      GROUP BY digit
    )
    SELECT o.digit, o.n_obs,
           CAST(ROUND(o.n_obs / (SELECT n FROM nn), 6) AS DOUBLE)
             AS observed_frac,
           CAST(ROUND(log10(1.0 + 1.0 / o.digit), 6) AS DOUBLE)
             AS benford_frac,
           CAST(ROUND(ABS(o.n_obs / (SELECT n FROM nn)
                          - log10(1.0 + 1.0 / o.digit)), 6) AS DOUBLE)
             AS abs_dev
    FROM obs o
    """,
)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over l_extendedprice — the
    fraud/synthetic-data screen a DQ suite runs on monetary columns:
    the leading significant digit of naturally occurring amounts
    should follow P(d) = log10(1 + 1/d); a flat or spiked
    distribution flags fabricated values.

    The digit is extracted ARITHMETICALLY, not via float log10:
    amounts are cent-valued doubles, so round(x*100) is an exact
    integer, and the first character of its decimal rendering is the
    leading digit — immune to the floor(log10(10^k)) last-ulp trap
    that flips a digit at exact powers of ten, and bit-identical
    across engines. Plan: one narrow projection, one 9-key hash
    aggregation with map-side combine, scalar total broadcast back —
    a single scan at any scale. Expected fractions are constants
    folded by Catalyst."""
    li = load(spark, sf_dir, "lineitem")
    digits = li.select(
        F.substring(
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("long")
            .cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    n = float(digits.count())
    obs = digits.groupBy("digit").agg(F.count("*").alias("n_obs"))
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return obs.select(
        "digit",
        "n_obs",
        F.round(F.col("n_obs") / F.lit(n), 6).alias("observed_frac"),
        F.round(benford, 6).alias("benford_frac"),
        F.round(F.abs(F.col("n_obs") / F.lit(n) - benford), 6).alias(
            "abs_dev"
        ),
    )


@query(
    "etl_backfill_planner",
    oracle="""
    WITH span AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo,
             date_trunc('hour', MAX(ts)) AS hi
      FROM events
    ),
    grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr_ts
      FROM span
    ),
    observed AS (
      SELECT DISTINCT date_trunc('hour', ts) AS hr_ts FROM events
      WHERE event_type = 'purchase'
    )
    SELECT strftime(g.hr_ts, '%Y-%m-%d') AS dt,
           CAST(hour(g.hr_ts) AS BIGINT) AS hr
    FROM grid g LEFT JOIN observed o ON g.hr_ts = o.hr_ts
    WHERE o.hr_ts IS NULL
    """,
)
def etl_backfill_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill planner — the operational query behind every
    partition-repair job: which (dt, hr) partitions SHOULD exist for
    the 'purchase' feed (the full hourly calendar spanned by the
    event stream) but have no data? The reference world's equivalent
    is diffing HDFS partition dirs against the DONE-marker calendar;
    here the expected set is generated, not listed.

    Plan: the calendar grid comes from a 1-row global-bounds
    aggregate expanded with ``sequence`` (same never-collected idiom
    as ts_gapfill_ffill) — #hours rows regardless of event volume;
    observed hours are one distinct on the FILTERED feed (predicate
    pushed to the scan); the missing set is a left-anti join of grid
    against observed, broadcast because a calendar is always tiny.
    Output is the work list a backfill orchestrator enqueues."""
    ev = load(spark, sf_dir, "events")
    span = ev.agg(
        F.date_trunc("HOUR", F.min("ts")).alias("lo"),
        F.date_trunc("HOUR", F.max("ts")).alias("hi"),
    )
    grid = span.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hr_ts")
    )
    observed = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.date_trunc("HOUR", "ts").alias("hr_ts"))
        .distinct()
    )
    return grid.join(observed, "hr_ts", "left_anti").select(
        F.date_format("hr_ts", "yyyy-MM-dd").alias("dt"),
        F.hour("hr_ts").cast("long").alias("hr"),
    )


@query(
    "dq_freshness_lag",
    oracle="""
    WITH anchor AS (SELECT MAX(ts) AS global_max FROM events),
    per_type AS (
      SELECT event_type, MAX(ts) AS type_max,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type
    )
    SELECT event_type, n_events,
           (epoch_us((SELECT global_max FROM anchor))
            - epoch_us(type_max)) // 1000000 AS lag_seconds,
           (epoch_us((SELECT global_max FROM anchor))
            - epoch_us(type_max)) // 1000000 > 3600 AS stale_flag
    FROM per_type
    """,
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-freshness audit: how far behind the most recent event is
    each event type's latest arrival? The lag that pages an on-call
    when one upstream feed silently stops while the others keep
    flowing. The anchor is the GLOBAL max timestamp, not wall-clock
    now() — deterministic, replayable, and exactly what a backfill
    validation wants (wall-clock freshness is the streaming side's
    job; stream_watermark covers it).

    Plan: one map-side-combined aggregation per type plus a 1-row
    global aggregate broadcast back in (never collected — the
    timezone-safe idiom); threshold evaluation is a constant-folded
    comparison. The lag floors the MICROSECOND difference (unix_micros
    / epoch_us, integer div) rather than differencing per-timestamp
    second truncations — truncate-then-subtract is off by one when the
    sub-second parts straddle (caught by the oracle)."""
    ev = load(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("global_max"))
    per_type = ev.groupBy("event_type").agg(
        F.max("ts").alias("type_max"), F.count("*").alias("n_events")
    )
    lag_s = F.expr(
        "(unix_micros(global_max) - unix_micros(type_max)) div 1000000"
    )
    return per_type.join(F.broadcast(anchor)).select(
        "event_type",
        "n_events",
        lag_s.alias("lag_seconds"),
        (lag_s > 3600).alias("stale_flag"),
    )


@query(
    "dq_psi_drift",
    oracle="""
    WITH ref AS (
      SELECT value FROM events WHERE ts < TIMESTAMP '2024-01-16'
    ),
    cur AS (
      SELECT value FROM events WHERE ts >= TIMESTAMP '2024-01-16'
    ),
    edges AS (
      SELECT [quantile_cont(value, 0.1), quantile_cont(value, 0.2),
              quantile_cont(value, 0.3), quantile_cont(value, 0.4),
              quantile_cont(value, 0.5), quantile_cont(value, 0.6),
              quantile_cont(value, 0.7), quantile_cont(value, 0.8),
              quantile_cont(value, 0.9)] AS e
      FROM ref
    ),
    rb AS (
      SELECT 1 + len(list_filter(edges.e, x -> value > x)) AS bin
      FROM ref, edges
    ),
    cb AS (
      SELECT 1 + len(list_filter(edges.e, x -> value > x)) AS bin
      FROM cur, edges
    ),
    p AS (
      SELECT bin, count(*) / CAST((SELECT count(*) FROM rb) AS DOUBLE)
               AS p_frac
      FROM rb GROUP BY bin
    ),
    q AS (
      SELECT bin, count(*) / CAST((SELECT count(*) FROM cb) AS DOUBLE)
               AS q_frac
      FROM cb GROUP BY bin
    ),
    parts AS (
      SELECT p.bin, p.p_frac,
             COALESCE(q.q_frac, 0.000001) AS q_frac,
             (p.p_frac - COALESCE(q.q_frac, 0.000001))
               * ln(p.p_frac / COALESCE(q.q_frac, 0.000001)) AS psi_part
      FROM p LEFT JOIN q ON p.bin = q.bin
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(ROUND(p_frac, 6) AS DOUBLE) AS p_frac,
           CAST(ROUND(q_frac, 6) AS DOUBLE) AS q_frac,
           CAST(ROUND(psi_part, 6) AS DOUBLE) AS psi_part,
           CAST(ROUND(SUM(psi_part) OVER (), 6) AS DOUBLE) AS psi_total,
           SUM(psi_part) OVER () > 0.2 AS drift_flag
    FROM parts
    """,
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the month's first half
    (reference window) and second half (current window) of the event
    value distribution — the standard drift monitor on a model input
    or metric feed: decile bin edges fit on the REFERENCE window,
    both windows histogrammed against those fixed edges, PSI =
    Σ (p−q)·ln(p/q); > 0.2 is the conventional investigate threshold.

    Engine parity notes: the edges are exact interpolated deciles
    computed from identical sorted data by the identical formula on
    both engines, and bin assignment is the SAME strict-greater
    comparison against the same edge list (in-row array filter — the
    grid never explodes). Plan: one narrow scan (the two windows are
    disjoint pushed-down filters over one pass), edges as a broadcast
    1-row aggregate, two 10-key aggregations; at 100 TB swap the
    exact deciles for approx_percentile per the agg_percentile
    note — PSI is insensitive to edge wiggle by construction."""
    ev = load(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    ref = ev.filter(F.col("ts") < cut).select("value")
    cur = ev.filter(F.col("ts") >= cut).select("value")
    edges = ref.agg(
        F.percentile(
            "value", F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
        ).alias("e")
    )

    def binned(df):
        return df.join(F.broadcast(edges)).select(
            (
                1
                + F.size(
                    F.filter("e", lambda x: F.col("value") > x)
                )
            ).alias("bin")
        )

    rb, cb = binned(ref), binned(cur)
    nr = rb.agg(F.count("*").alias("n_ref"))
    nc = cb.agg(F.count("*").alias("n_cur"))
    p = (
        rb.groupBy("bin")
        .agg(F.count("*").alias("np"))
        .join(F.broadcast(nr))
        .select("bin", (F.col("np") / F.col("n_ref")).alias("p_frac"))
    )
    q = (
        cb.groupBy("bin")
        .agg(F.count("*").alias("nq"))
        .join(F.broadcast(nc))
        .select(
            F.col("bin").alias("bin_q"),
            (F.col("nq") / F.col("n_cur")).alias("q_frac"),
        )
    )
    # LEFT join + epsilon floor: a bin with zero current-window rows is
    # maximal drift evidence, not a row to drop (the standard PSI
    # epsilon convention) — mirrored exactly in the oracle.
    qf = F.coalesce(F.col("q_frac"), F.lit(0.000001))
    parts = p.join(q, p.bin == q.bin_q, "left").select(
        "bin",
        "p_frac",
        qf.alias("q_frac"),
        (
            (F.col("p_frac") - qf) * F.log(F.col("p_frac") / qf)
        ).alias("psi_raw"),
    )
    w = Window.partitionBy()
    psi_total = F.sum("psi_raw").over(w)
    return parts.select(
        F.col("bin").cast("long").alias("bin"),
        F.round("p_frac", 6).alias("p_frac"),
        F.round("q_frac", 6).alias("q_frac"),
        F.round("psi_raw", 6).alias("psi_part"),
        F.round(psi_total, 6).alias("psi_total"),
        (psi_total > 0.2).alias("drift_flag"),
    )


@query(
    "etl_retention_sweep",
    oracle="""
    WITH anchor AS (
      SELECT CAST(date_trunc('day', MAX(ts)) AS TIMESTAMP) AS mx FROM events
    ),
    parts AS (
      SELECT date_trunc('day', ts) AS dt_ts,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1
    )
    SELECT strftime(dt_ts, '%Y-%m-%d') AS dt, n_rows, n_users,
           CAST(date_diff('day', dt_ts, (SELECT mx FROM anchor))
                AS BIGINT) AS age_days
    FROM parts
    WHERE date_diff('day', dt_ts, (SELECT mx FROM anchor)) > 21
    """,
)
def etl_retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention sweep work list — the other half of partition
    lifecycle next to etl_backfill_planner's creation side: which dt
    partitions have aged past the 21-day retention policy (relative to
    the newest data, not wall clock — deterministic and correct for
    backfills), with per-partition row and user counts so the sweep
    job can log what it deletes and a legal hold can veto by content.

    Plan: one day-grain aggregation (map-side combined), the age
    anchor as a broadcast 1-row aggregate, a constant-folded threshold
    filter — one scan regardless of volume; the actual delete is
    rm -r on the listed partition dirs plus a manifest update
    (etl_partition_manifest_checksum's domain), never a data job."""
    ev = load(spark, sf_dir, "events")
    anchor = ev.agg(F.date_trunc("DAY", F.max("ts")).alias("mx"))
    parts = ev.groupBy(F.date_trunc("DAY", "ts").alias("dt_ts")).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )
    j = parts.join(F.broadcast(anchor))
    age = F.datediff("mx", "dt_ts")
    return j.filter(age > 21).select(
        F.date_format("dt_ts", "yyyy-MM-dd").alias("dt"),
        "n_rows",
        "n_users",
        age.cast("long").alias("age_days"),
    )


def ks_quantize(x, q: int):
    """Snap ``x`` to the floor of its width-``q`` cell: the
    value-quantization step that bounds a KS test's distinct-value
    grain by construction. Uses the FLOORED modulo
    ``x − ((x % q) + q) % q`` rather than ``x − x % q`` because
    Spark's (and standard SQL's) ``%`` truncates toward zero — the
    naive form would merge (−q, q) into one double-width cell at 0 for
    signed columns (round-7 review). Integer arithmetic only — no
    float division, so Spark and any SQL oracle agree bit-for-bit.
    ``q=1`` (or None) is the identity, the right default for
    already-discrete columns."""
    if not q or q == 1:
        return x
    qq = F.lit(q)
    return x - ((x % qq) + qq) % qq


@query(
    "dq_ks_test",
    oracle="""
    WITH labeled AS (
      SELECT n_chars - (((n_chars % 16) + 16) % 16) AS x,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS grp
      FROM documents
    ),
    ns AS (
      SELECT CAST(SUM(grp) AS DOUBLE) AS na,
             CAST(SUM(1 - grp) AS DOUBLE) AS nb
      FROM labeled
    ),
    per_x AS (
      SELECT x, CAST(SUM(grp) AS BIGINT) AS ca,
             CAST(SUM(1 - grp) AS BIGINT) AS cb
      FROM labeled GROUP BY x
    ),
    cdf AS (
      SELECT x,
             SUM(ca) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
               / (SELECT na FROM ns) AS fa,
             SUM(cb) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
               / (SELECT nb FROM ns) AS fb
      FROM per_x
    ),
    stat AS (SELECT MAX(ABS(fa - fb)) AS d FROM cdf)
    SELECT CAST((SELECT na FROM ns) AS BIGINT) AS n_en,
           CAST((SELECT nb FROM ns) AS BIGINT) AS n_rest,
           CAST(ROUND((SELECT d FROM stat), 6) AS DOUBLE) AS ks_stat,
           CAST(ROUND(1.358 * sqrt(((SELECT na FROM ns)
                                    + (SELECT nb FROM ns))
                                   / ((SELECT na FROM ns)
                                      * (SELECT nb FROM ns))), 6)
                AS DOUBLE) AS critical_05,
           (SELECT d FROM stat)
             > 1.358 * sqrt(((SELECT na FROM ns) + (SELECT nb FROM ns))
                            / ((SELECT na FROM ns) * (SELECT nb FROM ns)))
             AS reject_same_dist
    """,
)
def dq_ks_test(
    spark: SparkSession, sf_dir: str, quantize: int = 16
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test: is the English documents'
    length distribution the same as the rest of the corpus? D =
    max |ECDF_en − ECDF_rest|, compared against the α = 0.05 critical
    value 1.358·√((n_a+n_b)/(n_a·n_b)). The NONPARAMETRIC complement
    to dq_psi_drift: PSI needs bins and a reference window; KS
    compares whole distributions with no binning decisions — the
    right first test when you suspect one slice of a feed was
    generated differently.

    The ECDFs never materialize per-row: the scan collapses to the
    DISTINCT-VALUE grain first (counts per x per group — map-side
    combined), then ONE ordered running-sum window over that
    compressed grain computes both ECDFs and D. Sample sizes ride as
    broadcast scalars.

    The grain entering that window is bounded BY CONSTRUCTION, not by
    advice: ``quantize`` snaps each value to its cell floor
    (floored modulo — pure integer arithmetic, negative-safe,
    bit-identical across engines; see ks_quantize) before the
    distinct-value collapse, so the window input
    is at most range/q rows regardless of corpus size. D is then the
    exact KS statistic OF THE QUANTIZED DATA (the max gap still
    occurs at an observed cell edge); it differs from the raw-data D
    by at most the largest per-cell probability mass. ``quantize=1``
    is the identity — exact D for already-discrete columns whose
    grain is known small; continuous doubles should scale to the
    measurement precision first and quantize from there. The
    registered key runs q=16 over n_chars, mirrored in the oracle."""
    d = load(spark, sf_dir, "documents")
    labeled = d.select(
        ks_quantize(F.col("n_chars"), quantize).alias("x"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("grp"),
    )
    ns = labeled.agg(
        F.sum("grp").cast("double").alias("na"),
        F.sum(1 - F.col("grp")).cast("double").alias("nb"),
    )
    per_x = labeled.groupBy("x").agg(
        F.sum("grp").alias("ca"), F.sum(1 - F.col("grp")).alias("cb")
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cdf = per_x.join(F.broadcast(ns)).select(
        (F.sum("ca").over(w) / F.col("na")).alias("fa"),
        (F.sum("cb").over(w) / F.col("nb")).alias("fb"),
        "na",
        "nb",
    )
    stat = cdf.agg(
        F.max(F.abs(F.col("fa") - F.col("fb"))).alias("d"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
    )
    crit = 1.358 * F.sqrt(
        (F.col("na") + F.col("nb")) / (F.col("na") * F.col("nb"))
    )
    return stat.select(
        F.col("na").cast("long").alias("n_en"),
        F.col("nb").cast("long").alias("n_rest"),
        F.round("d", 6).alias("ks_stat"),
        F.round(crit, 6).alias("critical_05"),
        (F.col("d") > crit).alias("reject_same_dist"),
    )
