"""Pattern-mining, curation, and ops analytics: market-basket
co-occurrence + co-purchase triangles, fuzzy record linkage, multi-grain
time rollups, event-path mining and priority transitions, CDC snapshot
diffs and SCD-2 history, histogram/decile profiling, table content
fingerprints, incremental aggregate maintenance, key-skew diagnostics,
RFM/ABC censuses, and burst detection.

None of this exists in the reference (its data plane is metadata-only —
see SURVEY §2b preamble); these are the discovery/curation operators a
training-data pipeline layers on top of the relational core. Every
query is expressed in built-in JVM expressions (no Python in any hot
path) and keeps its shuffle count within the global plan-hygiene
ceiling.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dsum_expr
from ..sources import load_table, register_temp_views
from .registry import register_query, register_stage

# -- market basket ----------------------------------------------------------
# A-priori pruning bound: an item below MIN_ITEM_SUPPORT baskets cannot
# appear in a pair with support >= MIN_PAIR_SUPPORT, so the (quadratic
# per-basket) self-join only ever sees frequent items. At 100 TB this is
# the difference between joining the full item stream and joining the
# heavy tail: the support census is one map-side-combined groupBy, and
# the keep-list broadcasts.
MIN_ITEM_SUPPORT = 10
MIN_PAIR_SUPPORT = 2

# Guard for the per-basket in-array pair expansion: it is quadratic in
# the basket's FREQUENT-item count, so one adversarially hot basket (a
# crawler order touching every part) would materialize an O(n^2) array
# in a single task — an executor OOM at scale, not a slow task. Baskets
# beyond the cap fail loudly (JVM-side raise_error, no Python in the
# path) with the remedy named. 1000 frequent items ~= 500k pairs per
# basket, comfortably within a task; mirror of similarity.py's
# MAX_COSINE_BUCKET.
MAX_BASKET_FREQUENT_ITEMS = int(
    os.environ.get("SPARK_GRAFT_MAX_BASKET_ITEMS", "1000")
)


@register_query(
    "basket_frequent_part_pairs",
    oracle=f"""
    WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    support AS (
      SELECT l_partkey, COUNT(*) AS item_support
      FROM baskets GROUP BY l_partkey
      HAVING COUNT(*) >= {MIN_ITEM_SUPPORT}
    ),
    pruned AS (
      SELECT b.l_orderkey, b.l_partkey, s.item_support
      FROM baskets b JOIN support s USING (l_partkey)
    ),
    pairs AS (
      SELECT a.l_partkey AS part1, c.l_partkey AS part2,
             COUNT(*) AS pair_support,
             MIN(a.item_support) AS support1, MIN(c.item_support) AS support2
      FROM pruned a JOIN pruned c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY a.l_partkey, c.l_partkey
      HAVING COUNT(*) >= {MIN_PAIR_SUPPORT}
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM baskets)
    SELECT part1, part2, pair_support,
           CAST(pair_support * n_baskets * 100 AS BIGINT) // (support1 * support2)
             AS lift_x100
    FROM pairs, n
    """,
    description="market-basket frequent part pairs with a-priori item pruning and integer-scaled lift",
)
def basket_frequent_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _frequent_pair_supports(spark, sf_dir)
    # the basket count re-reads the SAME persisted basket-set stage the
    # pair census was built from — without the shared frame this side
    # was a third full lineitem scan + distinct-orderkey shuffle
    sets = _basket_sets_cached(spark, sf_dir)
    n_baskets = sets.agg(F.count("*").alias("n_baskets"))
    return pairs.crossJoin(F.broadcast(n_baskets)).select(
        "part1",
        "part2",
        "pair_support",
        F.expr("pair_support * n_baskets * 100 div (support1 * support2)").alias(
            "lift_x100"
        ),
    )


def _basket_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # ONE shuffle keys everything by basket: collect_set dedups in the
    # map-side partial, and every later per-basket step (support
    # explode, frequent-item regroup, pair expansion) inherits the
    # orderkey partitioning instead of re-shuffling. Pairs come from an
    # in-array combination expression, not a self-join — per-basket
    # quadratic bounded by the (a-priori pruned) frequent items per
    # basket, never a second exchange of the item stream.
    return li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("items")
    )


# The basket-set stage feeds the pair census TWICE (support census +
# pruned re-explode) and the basket count once; persisted, the
# collect_set shuffle over lineitem runs once instead of three times.
@register_stage("basket_sets")
def _basket_sets_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _basket_sets(spark, sf_dir).persist()


def pair_supports_from_sets(
    sets: DataFrame,
    max_items: int = MAX_BASKET_FREQUENT_ITEMS,
    min_item: int = MIN_ITEM_SUPPORT,
    min_pair: int = MIN_PAIR_SUPPORT,
) -> DataFrame:
    """(part1, part2, pair_support, support1, support2) for frequent
    co-occurring part pairs from a (l_orderkey, items) basket-set
    DataFrame: items in at least ``min_item`` baskets, pairs in at
    least ``min_pair``. The per-basket pair expansion is quadratic in
    the basket's frequent-item count; any basket past ``max_items``
    raises executor-side with the remedy rather than materializing the
    array."""
    exploded = sets.select("l_orderkey", F.explode("items").alias("l_partkey"))
    support = (
        exploded.groupBy("l_partkey")
        .agg(F.count("*").alias("item_support"))
        .filter(F.col("item_support") >= min_item)
    )
    pruned = exploded.join(F.broadcast(support), "l_partkey")
    freq_sets = pruned.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(F.struct("l_partkey", "item_support"))
        ).alias("its")
    )
    # the guard stays JVM-side (raise_error inside codegen): the hot
    # basket fails the TASK with a named remedy instead of OOMing the
    # executor mid-array
    guarded = freq_sets.select(
        "l_orderkey",
        F.expr(
            f"""
            CASE WHEN size(its) <= {max_items} THEN its
            ELSE raise_error(concat(
              'basket ', CAST(l_orderkey AS STRING), ' has ',
              CAST(size(its) AS STRING),
              ' frequent items (> {max_items}): the per-basket pair ',
              'expansion would be quadratic — raise MIN_ITEM_SUPPORT to ',
              'prune harder, or raise SPARK_GRAFT_MAX_BASKET_ITEMS ',
              'deliberately'))
            END
            """
        ).alias("its"),
    )
    pair_combos = F.expr(
        """
        flatten(transform(its, (x, i) ->
          transform(slice(its, i + 2, size(its)), y ->
            named_struct('part1', x.l_partkey, 'support1', x.item_support,
                         'part2', y.l_partkey, 'support2', y.item_support))))
        """
    )
    return (
        guarded.select(F.explode(pair_combos).alias("p"))
        .select("p.part1", "p.support1", "p.part2", "p.support2")
        .groupBy("part1", "part2")
        .agg(
            F.count("*").alias("pair_support"),
            F.min("support1").alias("support1"),
            F.min("support2").alias("support2"),
        )
        .filter(F.col("pair_support") >= min_pair)
    )


# The pair census feeds two queries (basket listing, triangle census);
# like the dedup candidate stage, it is materialized once. The builder
# names the three bounds, so patching one of them changes the stage key.
@register_stage("frequent_pair_supports")
def _frequent_pair_supports(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pair_supports_from_sets(
        _basket_sets_cached(spark, sf_dir),
        MAX_BASKET_FREQUENT_ITEMS,
        MIN_ITEM_SUPPORT,
        MIN_PAIR_SUPPORT,
    ).persist()


# -- fuzzy record linkage ---------------------------------------------------
# Blocking key: the last 3 digits of the entity's numeric suffix. Within
# a block, candidate volume is |customers in block| x |suppliers in
# block| ~= (N/1000) x (M/1000) per key — linear overall — and only
# those pairs pay the Levenshtein. An unblocked fuzzy join is N x M.
FUZZY_MAX_DIST = 1


@register_query(
    "fuzzy_join_customer_supplier_names",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey, regexp_extract(c_name, '([0-9]+)$', 1) AS sfx
      FROM customer
    ),
    s AS (
      SELECT s_suppkey, regexp_extract(s_name, '([0-9]+)$', 1) AS sfx
      FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey,
           CAST(levenshtein(c.sfx, s.sfx) AS INT) AS edit_dist
    FROM c JOIN s ON right(c.sfx, 3) = right(s.sfx, 3)
    WHERE levenshtein(c.sfx, s.sfx) <= {FUZZY_MAX_DIST}
    """,
    description="fuzzy record linkage: blocked equi-join + Levenshtein distance gate",
)
def fuzzy_join_customer_supplier_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.regexp_extract("c_name", r"([0-9]+)$", 1).alias("c_sfx"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.regexp_extract("s_name", r"([0-9]+)$", 1).alias("s_sfx"),
    )
    # supplier side is the small dim — broadcast the blocked join
    joined = cust.join(
        F.broadcast(supp),
        F.substring("c_sfx", -3, 3) == F.substring("s_sfx", -3, 3),
    )
    return (
        joined.withColumn(
            "edit_dist", F.levenshtein("c_sfx", "s_sfx").cast("int")
        )
        .filter(F.col("edit_dist") <= FUZZY_MAX_DIST)
        .select("c_custkey", "s_suppkey", "edit_dist")
    )


# -- multi-grain time rollup ------------------------------------------------

_MULTI_GRAIN_SQL = f"""
    SELECT CASE WHEN GROUPING(day) = 0 THEN 'day'
                WHEN GROUPING(week) = 0 THEN 'week'
                ELSE 'month' END AS grain,
           COALESCE(day, week, month) AS period_start,
           COUNT(*) AS n_events,
           {dsum_expr('value')} AS total_value
    FROM (
      SELECT date_trunc('day', ts) AS day,
             date_trunc('week', ts) AS week,
             date_trunc('month', ts) AS month,
             value
      FROM events
    ) t
    GROUP BY GROUPING SETS ((day), (week), (month))
"""


@register_query(
    "events_multi_grain_rollup",
    oracle=_MULTI_GRAIN_SQL,
    description="hypertable-style rollup: one scan aggregated at day/week/month grains via GROUPING SETS",
)
def events_multi_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one GROUPING SETS pass = one Expand + one aggregate: a single scan
    # serves every grain, where three separate groupBys would scan and
    # shuffle three times. Same SQL text runs on both engines.
    register_temp_views(spark, sf_dir)
    return spark.sql(_MULTI_GRAIN_SQL)


# -- event path mining ------------------------------------------------------
PATH_MAX_STEPS = 8
PATH_TOP_K = 20
_PATH_GAP_MIN = 30


@register_query(
    "events_top_paths",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN prev_ts IS NULL
                       OR FLOOR(EPOCH(ts)) - FLOOR(EPOCH(prev_ts)) > {_PATH_GAP_MIN} * 60
                  THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ), sessions AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    ), paths AS (
      SELECT user_id, session_id,
             array_to_string(
               list_slice(list(event_type ORDER BY ts, event_id), 1, {PATH_MAX_STEPS}),
               '>') AS path
      FROM sessions
      GROUP BY user_id, session_id
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT {PATH_TOP_K}
    """,
    description=f"path mining: top-{PATH_TOP_K} within-session event-type sequences (first {PATH_MAX_STEPS} steps)",
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts) > _PATH_GAP_MIN * 60),
        1,
    ).otherwise(0)
    sessions = ev.select(
        "user_id", "ts", "event_id", "event_type", new_session.alias("new_session")
    ).withColumn("session_id", F.sum("new_session").over(wrun))
    # collect_list order is parallelism-dependent; array_sort on the
    # (ts, event_id, type) struct makes the path deterministic at any
    # partitioning, then the slice bounds per-session state
    path = F.concat_ws(
        ">",
        F.slice(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s.event_type,
            ),
            1,
            PATH_MAX_STEPS,
        ),
    )
    paths = sessions.groupBy("user_id", "session_id").agg(path.alias("path"))
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(PATH_TOP_K)
    )


# -- CDC snapshot diff ------------------------------------------------------


@register_query(
    "events_cdc_snapshot_diff",
    oracle="""
    WITH cutoff AS (SELECT max(ts) - INTERVAL 1 DAY AS cut FROM events),
    old_snap AS (
      SELECT user_id, event_type AS old_type, value AS old_value
      FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events, cutoff WHERE ts <= cut
      ) t WHERE rn = 1
    ),
    new_snap AS (
      SELECT user_id, event_type AS new_type, value AS new_value
      FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) t WHERE rn = 1
    )
    SELECT n.user_id, o.old_type, n.new_type, o.old_value, n.new_value,
           CASE WHEN o.user_id IS NULL THEN 'new' ELSE 'changed' END AS change_kind
    FROM new_snap n LEFT JOIN old_snap o USING (user_id)
    WHERE o.user_id IS NULL
       OR o.old_type <> n.new_type
       OR o.old_value <> n.new_value
    """,
    description="CDC snapshot diff: latest-state-per-key at T-1d vs now, emitting new/changed keys",
)
def events_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(F.expr("max(ts) - INTERVAL 1 DAY").alias("cut"))
    # BOTH snapshots from ONE grouped pass: latest-per-key is
    # max_by over the (ts, event_id) order key, and the T-1d state is
    # the same max_by restricted to pre-cutoff rows (null order key =
    # row ignored, all-null group = null state = the left join miss).
    # The window rendering scanned events twice, ran two user_id window
    # sorts, and joined the results — same values, one exchange,
    # map-side-combinable (guide §2.3 aggregate-before-shuffle).
    is_old = F.col("ts") <= F.col("cut")
    ordkey = F.struct("ts", "event_id")
    state = F.struct("event_type", "value")
    snaps = (
        ev.crossJoin(F.broadcast(cutoff))
        .groupBy("user_id")
        .agg(
            F.max_by(state, ordkey).alias("new_s"),
            F.max_by(F.when(is_old, state), F.when(is_old, ordkey)).alias("old_s"),
        )
        .select(
            "user_id",
            F.col("old_s.event_type").alias("old_type"),
            F.col("new_s.event_type").alias("new_type"),
            F.col("old_s.value").alias("old_value"),
            F.col("new_s.value").alias("new_value"),
        )
    )
    return (
        snaps
        .filter(
            F.col("old_type").isNull()
            | (F.col("old_type") != F.col("new_type"))
            | (F.col("old_value") != F.col("new_value"))
        )
        .select(
            "user_id",
            "old_type",
            "new_type",
            "old_value",
            "new_value",
            F.when(F.col("old_type").isNull(), "new")
            .otherwise("changed")
            .alias("change_kind"),
        )
    )


# -- histogram profiling ----------------------------------------------------
HIST_WIDTH = 25_000
HIST_BINS = 20


@register_query(
    "histogram_order_totals",
    oracle=f"""
    WITH binned AS (
      SELECT LEAST(CAST(FLOOR(o_totalprice / {HIST_WIDTH}) AS BIGINT), {HIST_BINS - 1}) AS bin
      FROM orders
    ),
    h AS (SELECT bin, COUNT(*) AS n_orders FROM binned GROUP BY bin)
    SELECT bin,
           bin * {HIST_WIDTH} AS bin_lo,
           (bin + 1) * {HIST_WIDTH} AS bin_hi,
           n_orders,
           CAST(n_orders * 10000 // SUM(n_orders) OVER () AS BIGINT) AS share_bp
    FROM h
    """,
    description=f"equi-width histogram of order totals ({HIST_BINS} x {HIST_WIDTH}) with integer basis-point shares",
)
def histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    binned = orders.select(
        F.least(
            F.floor(F.col("o_totalprice") / HIST_WIDTH), F.lit(HIST_BINS - 1)
        ).alias("bin")
    )
    h = binned.groupBy("bin").agg(F.count("*").alias("n_orders"))
    # the all-rows window runs over <= HIST_BINS aggregated rows — a
    # single-partition frame over 20 rows, not over the input
    return h.select(
        "bin",
        (F.col("bin") * HIST_WIDTH).alias("bin_lo"),
        ((F.col("bin") + 1) * HIST_WIDTH).alias("bin_hi"),
        "n_orders",
        F.expr("n_orders * 10000 div sum(n_orders) OVER ()").alias("share_bp"),
    )


# -- quality decile banding -------------------------------------------------


@register_query(
    "doc_quality_decile_bands",
    oracle="""
    WITH ranked AS (
      SELECT lang, n_chars,
             NTILE(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
      FROM documents
    )
    SELECT lang, decile, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM ranked
    GROUP BY lang, decile
    """,
    description="per-language length-decile banding (ntile) for curation mixtures",
)
def doc_quality_decile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # doc_id tiebreak makes the ntile assignment total-order stable, so
    # both engines cut identical deciles
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        docs.select("lang", "n_chars", F.ntile(10).over(w).alias("decile"))
        .groupBy("lang", "decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


# -- migration content validation -------------------------------------------
# The reference validates a migration at the metadata level (the table
# registered, reference CatalogMigrator.java:208-224); the data-plane
# analogue a real migration needs is a content checksum that matches
# across engines and clusters. XOR of per-row md5 prefixes is
# order-independent (no sort, no overflow) and reproducible anywhere
# that can run md5 — the same idea as Iceberg's manifest-level
# content checks, but queryable.


@register_query(
    "table_fingerprint_orders",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(bit_xor(CAST(('0x' || substr(md5(
             o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|'
               || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || '|'
               || strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f') || '|'
               || o_orderpriority), 1, 15)) AS BIGINT)) AS BIGINT) AS fingerprint
    FROM orders
    """,
    description="order-independent table content checksum (xor of per-row md5 prefixes) for migration validation",
)
def table_fingerprint_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # canonical row rendering pinned per type: integers as-is, doubles
    # through DECIMAL(18,2) (identical digits in every engine),
    # timestamps through an explicit micros format — double/timestamp
    # native string casts are NOT engine-portable
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.col("o_orderpriority"),
    )
    row_hash = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("bigint")
    return orders.agg(
        F.count("*").alias("n_rows"),
        F.bit_xor(row_hash).alias("fingerprint"),
    )


# -- SCD-2 history build ----------------------------------------------------


@register_query(
    "events_scd2_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER w AS prev_type,
             ROW_NUMBER() OVER w AS rn
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN prev_type IS NULL OR prev_type <> event_type THEN 1 ELSE 0 END AS chg
      FROM ordered
    ), runs AS (
      SELECT user_id, ts, event_type,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      FROM flagged
    ), collapsed AS (
      SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
             MIN(event_type) AS state,
             MIN(ts) AS valid_from,
             COUNT(*) AS n_events_in_run
      FROM runs GROUP BY user_id, run_id
    )
    SELECT user_id, run_id, state, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to,
           n_events_in_run
    FROM collapsed
    """,
    description="SCD-2 history: collapse consecutive same-state runs into validity intervals (valid_from, valid_to)",
)
def events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_type = F.lag("event_type").over(w)
    chg = F.when(prev_type.isNull() | (prev_type != F.col("event_type")), 1).otherwise(0)
    runs = ev.select(
        "user_id", "ts", "event_id", "event_type", chg.alias("chg")
    ).withColumn("run_id", F.sum("chg").over(wrun).cast("bigint"))
    collapsed = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("state"),
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events_in_run"),
    )
    # every window and the run groupBy key on user_id first, so one
    # user-keyed exchange feeds the whole interval build
    w2 = Window.partitionBy("user_id").orderBy("run_id")
    return collapsed.select(
        "user_id",
        "run_id",
        "state",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events_in_run",
    )


# -- incremental aggregate maintenance --------------------------------------


@register_query(
    "incremental_agg_maintenance",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_events, {dsum_expr('value')} AS total_value
    FROM events
    GROUP BY event_type
    """,
    description="materialized-view maintenance: base partial + last-day delta merge ≡ full recompute (the oracle IS the recompute)",
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the engine path maintains the aggregate incrementally: a frozen
    # base partial (everything before the cutoff) merged with the fresh
    # delta partial. SUM/COUNT are commutative monoids, so merging
    # partials must equal the oracle's full recompute — this query is
    # wrong unless the merge algebra is exactly right. Decimal partial
    # sums keep the merge associative (doubles wouldn't, order matters).
    ev = load_table(spark, sf_dir, "events")
    # pin the 1-row cutoff: broadcast in BOTH the base and delta branch
    # re-executes its events-max subtree per branch otherwise (4 events
    # scans in the plan; 2 after — the base/delta pair itself is the
    # declared incremental shape and stays)
    cutoff = ev.agg(F.expr("max(ts) - INTERVAL 1 DAY").alias("cut")).localCheckpoint()
    tagged = ev.crossJoin(F.broadcast(cutoff))

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").alias("pn"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("pv"),
        )

    base = partial(tagged.filter(F.col("ts") <= F.col("cut")))
    delta = partial(tagged.filter(F.col("ts") > F.col("cut")))
    return (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("pn").cast("bigint").alias("n_events"),
            F.round(F.sum("pv"), 2).cast("double").alias("total_value"),
        )
    )


# -- skew diagnostics -------------------------------------------------------


@register_query(
    "skew_key_diagnostics",
    oracle="""
    WITH counts AS (
      SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM counts
    )
    SELECT n_keys, n_rows, max_cnt,
           CAST(max_cnt * 10000 // n_rows AS BIGINT) AS max_share_bp,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM counts, stats
             WHERE cnt * n_keys > 2 * n_rows) AS n_heavy_keys
    FROM stats
    """,
    description="partition-skew diagnostics: key census with heavy-key count (cnt > 2x mean, integer-exact)",
)
def skew_key_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the operational pre-check for every keyed shuffle in this engine:
    # how skewed is the key before you join/aggregate on it. One count
    # census (map-side combined) feeds both the moment row and the
    # heavy-key probe; the heavy test multiplies instead of dividing so
    # it stays in exact integers.
    ev = load_table(spark, sf_dir, "events")
    # pin the key census: it feeds the moment row, the heavy probe AND
    # the broadcast(stats) inside the probe, each of which re-executes
    # the events scan + shuffle otherwise (3 scans -> 1). |keys| rows
    # of two longs — the same cardinality class as the dq okeys pin.
    counts = ev.groupBy("user_id").agg(F.count("*").alias("cnt")).localCheckpoint()
    stats = counts.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    heavy = (
        counts.crossJoin(F.broadcast(stats))
        .filter(F.col("cnt") * F.col("n_keys") > 2 * F.col("n_rows"))
        .agg(F.count("*").cast("bigint").alias("n_heavy_keys"))
    )
    return stats.crossJoin(F.broadcast(heavy)).select(
        "n_keys",
        "n_rows",
        "max_cnt",
        F.expr("max_cnt * 10000 div n_rows").alias("max_share_bp"),
        "n_heavy_keys",
    )


# -- co-purchase graph triangles --------------------------------------------

_EDGES_SQL = f"""
    baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    support AS (
      SELECT l_partkey FROM baskets
      GROUP BY l_partkey HAVING COUNT(*) >= {MIN_ITEM_SUPPORT}
    ),
    pruned AS (
      SELECT b.l_orderkey, b.l_partkey
      FROM baskets b JOIN support USING (l_partkey)
    ),
    edges AS (
      SELECT a.l_partkey AS p1, c.l_partkey AS p2
      FROM pruned a JOIN pruned c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_PAIR_SUPPORT}
    )
"""


@register_query(
    "graph_copurchase_triangles",
    oracle=f"""
    WITH {_EDGES_SQL},
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e1.p2 = e2.p1
      JOIN edges e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    ),
    deg AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT p1 AS p FROM edges UNION ALL SELECT p2 FROM edges
      ) u GROUP BY p
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
      FROM deg
    )
    SELECT n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           CAST(3 * n_triangles * 10000 // n_wedges AS BIGINT) AS closure_bp
    FROM agg, tri
    """,
    description="triangle census over the frequent co-purchase graph (ordered two-join enumeration, global closure in basis points)",
)
def graph_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triadic closure over the co-purchase graph. Edges keep the
    canonical p1 < p2 orientation, so the two-join enumeration
    (e1: a<b, e2: b<c, probe e3: a<c) counts each triangle exactly once
    — the standard distributed triangle count, with per-vertex fan-out
    bounded by the a-priori support pruning upstream. The closure ratio
    3*triangles/wedges stays in exact integer basis points."""
    edges = _frequent_pair_supports(spark, sf_dir).select("part1", "part2")
    e1 = edges.select(F.col("part1").alias("a"), F.col("part2").alias("b"))
    e2 = edges.select(F.col("part1").alias("b"), F.col("part2").alias("c"))
    e3 = edges.select(F.col("part1").alias("a"), F.col("part2").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"], "left_semi")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    deg = (
        edges.select(F.col("part1").alias("p"))
        .unionAll(edges.select(F.col("part2").alias("p")))
        .groupBy("p")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    agg = deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges"),
    )
    n_edges = edges.agg(F.count("*").cast("bigint").alias("n_edges"))
    return (
        agg.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            F.expr("3 * n_triangles * 10000 div n_wedges").alias("closure_bp"),
        )
    )


# -- order-priority transition matrix ---------------------------------------


@register_query(
    "orders_priority_transitions",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderpriority AS cur_priority,
             LAG(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev_priority
      FROM orders
    )
    SELECT prev_priority, cur_priority, COUNT(*) AS n_transitions
    FROM ordered
    WHERE prev_priority IS NOT NULL
    GROUP BY prev_priority, cur_priority
    """,
    description="first-order Markov transition counts of per-customer consecutive order priorities",
)
def orders_priority_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            F.col("o_orderpriority").alias("cur_priority"),
            F.lag("o_orderpriority").over(w).alias("prev_priority"),
        )
        .filter(F.col("prev_priority").isNotNull())
        .groupBy("prev_priority", "cur_priority")
        .agg(F.count("*").alias("n_transitions"))
    )


# -- RFM segmentation -------------------------------------------------------


@register_query(
    "customer_rfm_segments",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS frequency,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey,
             NTILE(5) OVER (ORDER BY last_order, o_custkey) AS r_score,
             NTILE(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
             NTILE(5) OVER (ORDER BY monetary, o_custkey) AS m_score
      FROM per_cust
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM scored
    GROUP BY r_score, f_score, m_score
    """,
    description="RFM segmentation: per-customer recency/frequency/monetary quintiles, segment census",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM is the canonical customer-value census. The three ntile
    windows are global (unpartitioned) but run over the per-customer
    AGGREGATE (one row per customer, not per order) — the global sort
    is over key cardinality, the same cost class as any top-k output
    stage, and the custkey tie-break makes every quintile cut
    engine-identical."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("monetary"),
    )
    scored = per_cust.select(
        "o_custkey",
        F.ntile(5).over(Window.orderBy("last_order", "o_custkey")).alias("r_score"),
        F.ntile(5).over(Window.orderBy("frequency", "o_custkey")).alias("f_score"),
        F.ntile(5).over(Window.orderBy("monetary", "o_custkey")).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("bigint").alias("n_customers")
    )


# -- ABC (Pareto) analysis --------------------------------------------------


@register_query(
    "part_abc_revenue_classes",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,8))) AS rev
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
             SUM(rev) OVER () AS total_rev
      FROM per_part
    ),
    classed AS (
      SELECT l_partkey,
             CASE WHEN cum_rev * 10 <= total_rev * 8 THEN 'A'
                  WHEN cum_rev * 100 <= total_rev * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             rev
      FROM ranked
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(ROUND(SUM(rev), 2) AS DOUBLE) AS class_revenue
    FROM classed
    GROUP BY abc_class
    """,
    description="ABC/Pareto classification: cumulative revenue share cuts at 80/95% in exact decimal arithmetic",
)
def part_abc_revenue_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto inventory classification. The running decimal sum is over
    per-part aggregates (key cardinality, not line items) and the
    80%/95% cuts compare exact decimals cross-multiplied — never a
    float share, so the class boundaries cannot drift between engines.
    Both windows share the one global ordering of the aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(
            F.expr("CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,8))")
        ).alias("rev")
    )
    w_cum = Window.orderBy(F.desc("rev"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    ranked = per_part.select(
        "l_partkey",
        "rev",
        F.sum("rev").over(w_cum).alias("cum_rev"),
        F.sum("rev").over(w_all).alias("total_rev"),
    )
    classed = ranked.select(
        "rev",
        F.when(F.col("cum_rev") * 10 <= F.col("total_rev") * 8, "A")
        .when(F.col("cum_rev") * 100 <= F.col("total_rev") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.round(F.sum("rev"), 2).cast("double").alias("class_revenue"),
    )


# -- burst (bot) detection --------------------------------------------------
BURST_WINDOW_SEC = 60
BURST_THRESHOLD = 5


@register_query(
    "events_burst_user_flags",
    oracle=f"""
    WITH timed AS (
      SELECT user_id, event_id, FLOOR(EPOCH(ts)) AS sec
      FROM events
    ),
    windowed AS (
      SELECT user_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
               RANGE BETWEEN {BURST_WINDOW_SEC} PRECEDING AND CURRENT ROW) AS burst_n
      FROM timed
    ),
    per_user AS (
      SELECT user_id, CAST(MAX(burst_n) AS BIGINT) AS max_burst,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM windowed GROUP BY user_id
    )
    SELECT user_id, n_events, max_burst,
           CAST(CASE WHEN max_burst >= {BURST_THRESHOLD} THEN 1 ELSE 0 END AS INT)
             AS is_bursty
    FROM per_user
    """,
    description=f"burst detection: max events inside any trailing {BURST_WINDOW_SEC}s window per user (range frame), bot flag at >={BURST_THRESHOLD}",
)
def events_burst_user_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The abuse-filter primitive of event curation: integer-second
    range frames count each event's trailing window, and the per-user
    max decides the flag. RANGE (not ROWS) so simultaneous events
    aggregate identically in both engines; everything keys on user_id,
    so the window and the census share one exchange."""
    ev = load_table(spark, sf_dir, "events")
    timed = ev.select(
        "user_id", "event_id", F.floor(F.unix_timestamp("ts")).alias("sec")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-BURST_WINDOW_SEC, 0)
    )
    windowed = timed.select(
        "user_id", F.count("*").over(w).alias("burst_n")
    )
    per_user = windowed.groupBy("user_id").agg(
        F.max("burst_n").cast("bigint").alias("max_burst"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    return per_user.select(
        "user_id",
        "n_events",
        "max_burst",
        F.when(F.col("max_burst") >= BURST_THRESHOLD, 1)
        .otherwise(0)
        .cast("int")
        .alias("is_bursty"),
    )


# -- seasonality profile ----------------------------------------------------


@register_query(
    "orders_dow_seasonality",
    oracle="""
    WITH dow AS (
      SELECT CAST(isodow(o_orderdate) AS INT) AS dow_num,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS total FROM dow)
    SELECT dow_num,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(n_orders * 10000 // total AS BIGINT) AS share_bp,
           CAST(n_orders * 7 * 100 // total - 100 AS BIGINT) AS vs_uniform_pct
    FROM dow, tot
    """,
    description="day-of-week seasonality census: integer shares and deviation vs a uniform week",
)
def orders_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profiling over the bounded day-of-week domain: one
    map-side-combined census, total broadcast back, every ratio an
    exact integer. Day numbering is pinned to ISO (Monday=1..Sunday=7):
    Spark's ``dayofweek`` (Sunday=1) and DuckDB's ``dayofweek``
    (Sunday=0) disagree, but ``weekday()+1`` (Spark) == ``isodow``
    (DuckDB) on every date."""
    orders = load_table(spark, sf_dir, "orders")
    dow = orders.groupBy(
        (F.weekday("o_orderdate") + 1).cast("int").alias("dow_num")
    ).agg(F.count("*").alias("n_orders"))
    tot = dow.agg(F.sum("n_orders").cast("bigint").alias("total"))
    return dow.crossJoin(F.broadcast(tot)).select(
        "dow_num",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.expr("n_orders * 10000 div total").alias("share_bp"),
        F.expr("n_orders * 7 * 100 div total - 100").alias("vs_uniform_pct"),
    )


# -- revenue cohort LTV -----------------------------------------------------


@register_query(
    "orders_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, DATE_TRUNC('month', MIN(o_orderdate)) AS cohort_month
      FROM orders GROUP BY o_custkey
    ),
    tagged AS (
      SELECT f.cohort_month,
             CAST((EXTRACT(year FROM o.o_orderdate) - EXTRACT(year FROM f.cohort_month)) * 12
                  + (EXTRACT(month FROM o.o_orderdate) - EXTRACT(month FROM f.cohort_month))
               AS INT) AS month_offset,
             o.o_totalprice, o.o_custkey
      FROM orders o JOIN firsts f USING (o_custkey)
    )
    SELECT cohort_month, month_offset,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
    FROM tagged
    GROUP BY cohort_month, month_offset
    """,
    description="revenue cohort LTV matrix: first-order-month cohorts x month offset, distinct actives + exact revenue",
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The revenue counterpart of the event retention matrix: cohort by
    first purchase month, then a (cohort, offset) census. The firsts
    table is per-customer (key cardinality, broadcastable at dimension
    scale) and the month arithmetic stays in integer year/month parts —
    never date subtraction, whose day-count semantics differ between
    engines."""
    orders = load_table(spark, sf_dir, "orders")
    # first-order month via a window over the SAME customer-key
    # partitioning the groupBy+self-join needed — one orders scan and
    # one exchange instead of two scans, two exchanges and a join
    # (guide §2.4: a window keyed like the preceding aggregation
    # shares its shuffle)
    # the join the window replaces was INNER on o_custkey: a null key
    # row would have been dropped there, so drop it here too (no-op on
    # this data; keeps the window rendering oracle-exact on any data)
    wc = Window.partitionBy("o_custkey")
    orders = orders.filter(F.col("o_custkey").isNotNull())
    tagged = orders.withColumn(
        "cohort_month", F.date_trunc("month", F.min("o_orderdate").over(wc))
    ).select(
        "cohort_month",
        (
            (F.year("o_orderdate") - F.year("cohort_month")) * 12
            + (F.month("o_orderdate") - F.month("cohort_month"))
        )
        .cast("int")
        .alias("month_offset"),
        "o_totalprice",
        "o_custkey",
    )
    return tagged.groupBy("cohort_month", "month_offset").agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_active"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("revenue"),
    )


# -- funnel timing percentiles ----------------------------------------------


@register_query(
    "events_conversion_latency_percentiles",
    oracle="""
    WITH tagged AS (
      SELECT user_id, event_id, ts, event_type,
             MAX(CASE WHEN event_type = 'click' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS last_click_ts
      FROM events
      WHERE event_type IN ('click', 'purchase')
    ),
    gaps AS (
      SELECT CAST(FLOOR(EPOCH(ts)) - FLOOR(EPOCH(last_click_ts)) AS BIGINT) AS gap_sec
      FROM tagged
      WHERE event_type = 'purchase' AND last_click_ts IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(MIN(gap_sec) AS BIGINT) AS p0_sec,
           ROUND(QUANTILE_CONT(gap_sec, 0.5), 4) AS p50_sec,
           ROUND(QUANTILE_CONT(gap_sec, 0.9), 4) AS p90_sec,
           CAST(MAX(gap_sec) AS BIGINT) AS p100_sec
    FROM gaps
    """,
    description="funnel timing: click->purchase latency distribution (exact discrete percentiles over as-of gaps)",
)
def events_conversion_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composes the as-of attribution with exact discrete percentiles:
    how long conversions take, not just whether they happen. Exact
    continuous percentiles (sort-based, the established cross-engine
    pattern: Spark ``percentile`` ≡ DuckDB ``QUANTILE_CONT`` on the
    same integers, rounded to absorb the last-ulp)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    gaps = (
        ev.withColumn("last_click_ts", last_click)
        .filter(
            (F.col("event_type") == "purchase") & F.col("last_click_ts").isNotNull()
        )
        .select(
            (F.unix_timestamp("ts") - F.unix_timestamp("last_click_ts"))
            .cast("bigint")
            .alias("gap_sec")
        )
    )
    return gaps.agg(
        F.count("*").cast("bigint").alias("n_conversions"),
        F.min("gap_sec").cast("bigint").alias("p0_sec"),
        F.round(F.expr("percentile(gap_sec, 0.5)"), 4).alias("p50_sec"),
        F.round(F.expr("percentile(gap_sec, 0.9)"), 4).alias("p90_sec"),
        F.max("gap_sec").cast("bigint").alias("p100_sec"),
    )


# -- data-quality constraint validation -------------------------------------
# Expectations-style contract checks, one report row per constraint.
# Every check is a conditional aggregate fused into ONE scan of its
# table (never a scan per constraint); the referential-integrity check
# is the only join — an anti-join whose build side is the FK target's
# key column. At 100 TB: three scans + one key-only join, each
# map-side-combined, and adding a constraint on an already-scanned
# table costs zero extra I/O.


@register_query(
    "dq_constraint_report",
    oracle="""
    SELECT 'orders_pk_unique' AS constraint_name,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders_custkey_nonnull', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_status_domain', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_totalprice_positive', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_qty_range', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE l_quantity <= 0 OR l_quantity > 200) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_discount_range', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_fk_orders', (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'events_value_nonnull', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(value) AS BIGINT)
    FROM events
    """,
    description="expectations-style data-quality report: PK uniqueness, FK integrity, domain/range/null checks, one scan per table",
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract validation a pipeline runs before publishing a table.

    The report schema is (constraint_name, n_checked, n_violations);
    a consumer gates on ``n_violations == 0``. Constraint sets in real
    deployments come from config — the fixed set here exercises each
    check class: uniqueness (count vs distinct), nullability,
    value-domain membership, numeric range, and referential integrity
    (anti-join on the key column only)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    def report(df, checks):
        # one wide aggregate row, unpivoted to report rows via
        # explode(array(struct...)) — a UNION of per-check selects looks
        # equivalent but Catalyst prunes each branch into its own
        # single-column re-scan + re-aggregate of the table
        n = F.count("*").cast("bigint")
        aggs = [n.alias("_n")] + [
            F.count(F.when(cond, True)).cast("bigint").alias(name)
            for name, cond in checks
        ]
        wide = df.agg(*aggs)
        return wide.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("constraint_name"),
                            F.col("_n").alias("n_checked"),
                            F.col(name).alias("n_violations"),
                        )
                        for name, _ in checks
                    ]
                )
            ).alias("r")
        ).select("r.*")

    orders_checks = report(
        orders,
        [
            ("orders_custkey_nonnull", F.col("o_custkey").isNull()),
            ("orders_status_domain", ~F.col("o_orderstatus").isin("O", "F", "P")),
            ("orders_totalprice_positive", F.col("o_totalprice") <= 0),
        ],
    )
    # ONE key shuffle serves both PK uniqueness and referential
    # integrity: group orders by its key (map-side combined), derive
    # duplicate mass for the PK check, and left-join lineitem against
    # the GROUPED keys — the join reuses the groupBy's hash
    # partitioning (no second exchange of the orders side) and, being
    # one-row-per-key, cannot multiply fact rows even when the PK
    # check itself is failing.
    # pinned once: okeys feeds BOTH the PK census and the FK join —
    # unpinned, the orders scan + key groupBy executed twice
    okeys = (
        orders.groupBy("o_orderkey").agg(F.count("*").alias("key_cnt")).localCheckpoint()
    )
    pk = okeys.agg(
        F.lit("orders_pk_unique").alias("constraint_name"),
        F.sum("key_cnt").cast("bigint").alias("n_checked"),
        F.sum(F.col("key_cnt") - 1).cast("bigint").alias("n_violations"),
    )
    li_checks = report(
        li,
        [
            ("lineitem_qty_range", (F.col("l_quantity") <= 0) | (F.col("l_quantity") > 200)),
            ("lineitem_discount_range", (F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
        ],
    )
    fk = (
        li.select("l_orderkey")
        .join(okeys, li.l_orderkey == okeys.o_orderkey, "left")
        .agg(
            F.lit("lineitem_fk_orders").alias("constraint_name"),
            F.count("*").cast("bigint").alias("n_checked"),
            F.count(F.when(F.col("o_orderkey").isNull(), True))
            .cast("bigint")
            .alias("n_violations"),
        )
    )
    ev_checks = report(ev, [("events_value_nonnull", F.col("value").isNull())])
    return pk.unionAll(orders_checks).unionAll(li_checks).unionAll(fk).unionAll(ev_checks)
