"""Structured Streaming slice over the ``events`` table.

The batch queries in ``queries/events.py`` are the oracle-checked
renderings; this module runs the same logic as live streams — tumbling
windows with watermarks, session windows, within-watermark dedup, and a
custom stateful operator via ``applyInPandasWithState``. Tests feed the
parquet fixture through a file stream (chunked to multiple files so
multiple micro-batches actually happen) and assert stream == batch.

At scale the source swaps for Kafka/files-on-object-store; everything
below the source line is identical.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),  # normalized by prepare_stream_input
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def prepare_stream_input(spark: SparkSession, sf_dir: str, out_dir: str, chunks: int = 8) -> str:
    """Materialize events as ``chunks`` time-ordered parquet files so the
    file source replays them like a real stream (event-time roughly
    monotone across micro-batches — random chunking would make almost
    everything late and watermark-dropped)."""
    from ..sources import load_table

    return _write_chunks(load_table(spark, sf_dir, "events"), ["ts", "event_id"], chunks, out_dir)


def _write_chunks(df: DataFrame, order: list[str], chunks: int, out_dir: str) -> str:
    """Write ``df`` as ``chunks`` parquet files in ``order``, one file per
    chunk, named and mod-timed in chunk order."""
    import glob
    import shutil

    from pyspark.sql import Window

    total = df.count()
    rank = F.row_number().over(Window.orderBy(*order)) - 1
    chunked = df.withColumn("_chunk", (rank * chunks / total).cast("int"))
    os.makedirs(out_dir, exist_ok=True)
    for i in range(chunks):
        tmp = os.path.join(out_dir, f"_tmp_{i}")
        chunked.filter(F.col("_chunk") == i).drop("_chunk").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(out_dir, f"{i:03d}.parquet")
        shutil.move(part, dest)
        shutil.rmtree(tmp)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))  # mod-time order
    return out_dir


def events_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )


def hourly_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling hourly window counts per event type (late data admitted
    inside the watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2).cast("double").alias("total_value"),
        )
        .select(F.col("win.start").alias("hour"), "event_type", "n_events", "total_value")
    )


def session_window_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (gap-based) per user."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exact dedup within the watermark on the natural event key."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "ts"]
    )


def stateful_user_counter_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event count + last-seen timestamp, emitted per batch.

    This is the template for operators Spark lacks natively (CDC
    accumulators, decaying counters, custom session logic)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id bigint, total_events bigint, last_seen timestamp"
    state_schema = "total bigint"

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        total = state.get[0] if state.exists else 0
        last_seen = None
        for pdf in pdf_iter:
            total += len(pdf)
            mx = pdf["ts"].max()
            last_seen = mx if last_seen is None else max(last_seen, mx)
        state.update((total,))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_events": [total], "last_seen": [last_seen]}
        )

    return (
        events.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def click_purchase_join_stream(
    clicks: DataFrame, purchases: DataFrame, horizon: str = "1 hour", lateness: str = "1 hour"
) -> DataFrame:
    """Watermarked stream-stream interval join: every (click, purchase)
    pair for the same user where the purchase lands within ``horizon``
    after the click — the streaming rendition of the attribution shape
    behind ``events_asof_purchase_after_click``.

    Both sides carry watermarks and the join condition bounds event-time
    distance in both directions, so the join state store provably expires:
    a buffered click is dropped once the purchase watermark passes
    click_ts + horizon, and vice versa. Without the time bound the state
    would grow forever — this is THE scale constraint on stream-stream
    joins.

    The watermark delay is DERIVED from the parameters — horizon +
    lateness — never hardcoded: a fixed delay shorter than the horizon
    would silently drop valid attribution pairs whose purchase arrives
    near the end of the window."""
    delay_s = int(
        (pd.Timedelta(horizon) + pd.Timedelta(lateness)).total_seconds()
    )
    if delay_s <= 0:
        raise ValueError(f"horizon + lateness must be positive, got {horizon!r} + {lateness!r}")
    delay = f"{delay_s} seconds"
    c = (
        clicks.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", delay)
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", delay)
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def run_stream_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "append", checkpoint_dir: str | None = None
):
    """Drain the stream with availableNow into an in-memory table;
    returns the finished query (caller reads spark.table(name))."""
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()
    return q


# ----------------------------------------------- document ingest stream
DOCS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

_DOC_COPY_OFFSET = 1_000_000


def prepare_documents_stream_input(
    spark: SparkSession, sf_dir: str, out_dir: str, chunks: int = 6
) -> str:
    """Documents as a time-ordered file stream with planted re-crawls:
    every doc_id % 5 == 0 arrives a second time 30s later (same text,
    offset id) — the duplicate-submission shape a live ingest pipeline
    sees. Event time is synthesized deterministically from doc_id."""
    from ..sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    base = F.timestamp_seconds(F.lit(1_600_000_000) + F.col("doc_id") * 60)
    originals = docs.select("doc_id", base.alias("ts"), "text", "lang")
    copies = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + _DOC_COPY_OFFSET).alias("doc_id"),
            (base + F.expr("INTERVAL 30 SECONDS")).alias("ts"),
            "text",
            "lang",
        )
    )
    return _write_chunks(originals.unionByName(copies), ["ts", "doc_id"], chunks, out_dir)


def documents_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )


def document_ingest_stream(docs: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Continuous corpus ingestion: content-hash dedup within the
    watermark (first arrival wins — the re-crawl 30s later is dropped)
    followed by a stateless quality gate. Both stages are the streaming
    rendition of `dedup_exact_groups` + `text_quality_score`; all
    expressions are built-in columns, so the only state is the dedup
    hash set bounded by the watermark."""
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
    return (
        docs.withColumn("content_md5", F.md5("text"))
        .withColumn("n_tokens", F.size(toks).cast("bigint"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["content_md5"])
        .filter(F.col("n_tokens") >= 5)
        .select("doc_id", "ts", "lang", "content_md5", "n_tokens")
    )


def write_stream_idempotent_parquet(stream_df: DataFrame, out_dir: str, checkpoint_dir: str):
    """foreachBatch sink with per-epoch overwrite: replaying a failed
    epoch rewrites its own directory instead of appending twice — the
    standard idempotent-file-sink pattern for exactly-once delivery onto
    object storage."""

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(os.path.join(out_dir, f"epoch={epoch_id}"))

    q = (
        stream_df.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def curate_documents_end_to_end(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    watermark: str = "1 hour",
    target_file_bytes: int = 4 * 1024 * 1024,
) -> str:
    """The full streaming curation path, composed from the tested
    stages: replayed file stream → watermark-bounded content dedup +
    quality gate (``document_ingest_stream``) → idempotent per-epoch
    parquet sink → PUBLISHED compacted snapshot.

    Publication deliberately writes a separate ``published/`` directory
    instead of compacting the epoch sink in place: the epoch layout is
    the stream's replay/idempotence contract (a resumed stream appends
    ``epoch=N+1`` next to its checkpoint), so the ingest dir stays
    append-only and downstream readers get a snapshot whose file count
    is sized by on-disk bytes — the same sizing rule as
    ``compact_parquet``, at the ingest→serving boundary where a real
    pipeline (or an Iceberg ``rewrite_data_files``) runs it. Returns
    the published directory path."""
    import glob

    in_dir = prepare_documents_stream_input(spark, sf_dir, os.path.join(work_dir, "in"))
    epochs_dir = os.path.join(work_dir, "epochs")
    write_stream_idempotent_parquet(
        document_ingest_stream(documents_stream(spark, in_dir), watermark),
        epochs_dir,
        os.path.join(work_dir, "ckpt"),
    )
    files = glob.glob(os.path.join(epochs_dir, "**", "*.parquet"), recursive=True)
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_file_bytes))  # ceil, byte-sized like compact
    published = os.path.join(work_dir, "published")
    (
        spark.read.parquet(epochs_dir)
        .drop("epoch")  # partition-discovery column of the sink layout
        .repartition(int(n_out))
        .write.mode("overwrite")
        .parquet(published)
    )
    return published


def hourly_anomaly_stream(
    spark: SparkSession, events: DataFrame, work_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming volume-anomaly monitor: the watermarked hourly count
    stream drains through a snapshot foreachBatch sink (complete mode —
    each epoch overwrites the full count table, trivially idempotent),
    and the SAME integer z-score gate as the batch query
    (``queries.events.hourly_anomaly_gate``) runs over the final
    snapshot, so a fully drained monitor flags exactly the hour set the
    batch operator flags. In a long-running deployment the per-epoch
    snapshot makes every trigger's alert table a consistent view —
    alerts never mix counts from two epochs."""
    from ..queries.events import hourly_anomaly_gate

    hourly = hourly_counts_stream(events, watermark).select(
        "event_type", "hour", F.col("n_events").cast("bigint").alias("c")
    )
    snap_dir = os.path.join(work_dir, "hourly_snapshot")

    def write_snapshot(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(snap_dir)

    q = (
        hourly.writeStream.foreachBatch(write_snapshot)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return hourly_anomaly_gate(spark.read.parquet(snap_dir))


# ----------------------------------------------- streaming CDC upsert
def cdc_latest_state_stream(events: DataFrame) -> DataFrame:
    """Streaming SCD-1 upsert view: per (user_id, event_type) key, keep
    the (ts, event_id)-max row's (ts, value) in state and emit the
    refreshed latest row each micro-batch (update mode).

    This is the live rendering of the batch ``events_cdc_latest_state``
    compaction: a fully drained stream's final emit per key equals the
    batch window query exactly (test-pinned, including the event_id
    tiebreak for equal timestamps — late or reordered data can never
    regress the state). State is one scalar triple per key, so memory
    is bounded by key cardinality, not stream length."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = (
        "user_id bigint, event_type string, last_ts timestamp, "
        "last_event_id bigint, last_value double"
    )
    state_schema = "last_ts timestamp, last_event_id bigint, last_value double"

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.exists:
            ts, eid, val = state.get
        else:
            ts, eid, val = None, None, None
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            # batch-local winner by (ts, event_id), vectorized
            best = pdf.sort_values(["ts", "event_id"]).iloc[-1]
            if ts is None or (best["ts"], best["event_id"]) > (ts, eid):
                ts, eid, val = best["ts"], int(best["event_id"]), float(best["value"])
        state.update((ts, eid, val))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_type": [key[1]],
                "last_ts": [ts],
                "last_event_id": [eid],
                "last_value": [val],
            }
        )

    return events.withWatermark("ts", "2 hours").groupBy(
        "user_id", "event_type"
    ).applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ----------------------------------------------- streaming heavy hitters
MG_CAPACITY = 8  # tracked (user) slots per event_type group


def heavy_hitters_stream(events: DataFrame, capacity: int = MG_CAPACITY) -> DataFrame:
    """Streaming heavy hitters per event_type via Misra-Gries summaries
    in ``applyInPandasWithState``.

    State per group is a bounded (capacity-sized) map of user -> count
    maintained with the classic decrement step, so memory is O(capacity)
    regardless of stream length or user cardinality — the sketch every
    at-scale "top contributors" monitor runs where exact per-key counts
    would need unbounded state. The MG guarantee (any key with true
    frequency > n/(capacity+1) is tracked, and tracked counts
    undercount by at most the total decrement) is pinned against the
    exact batch counts in the test."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = (
        "event_type string, user_id bigint, mg_count bigint, n_processed bigint"
    )
    state_schema = "users array<bigint>, counts array<bigint>, n bigint"

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.exists:
            users, counts, n = state.get
            summary = dict(zip(users, counts))
        else:
            summary, n = {}, 0
        for pdf in pdf_iter:
            # per-batch pre-aggregation: the MG update then runs once
            # per distinct user in the batch, not once per event
            for uid, cnt in pdf.groupby("user_id").size().items():
                uid = int(uid)  # numpy int64 -> plain int for state arrays
                n += int(cnt)
                if uid in summary:
                    summary[uid] += int(cnt)
                elif len(summary) < capacity:
                    summary[uid] = int(cnt)
                else:
                    # decrement all by the new key's weight, capped at
                    # the current minimum (classic batched MG step)
                    dec = min(int(cnt), min(summary.values()))
                    summary = {
                        u: c - dec for u, c in summary.items() if c - dec > 0
                    }
                    rem = int(cnt) - dec
                    if rem > 0 and len(summary) < capacity:
                        summary[uid] = rem
        state.update((list(summary), [summary[u] for u in summary], n))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(summary),
                "user_id": list(summary),
                "mg_count": [summary[u] for u in summary],
                "n_processed": [n] * len(summary),
            }
        )

    return events.withWatermark("ts", "2 hours").groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------- transformWithState census
# Spark 4's arbitrary-stateful successor to applyInPandasWithState:
# typed state primitives (ValueState/MapState/ListState, timers, TTL)
# behind a StatefulProcessor, executed against the RocksDB state store.
# The per-user census below keeps a ValueState running total plus a
# MapState event_type->count — the state layout a per-entity profile
# service needs, with per-type counters updated incrementally instead
# of a re-aggregated blob. Environment note: the TWS state-server
# protocol needs the `protobuf` Python package and the RocksDB state
# store provider; `require_transform_with_state` names both up front
# so a missing dependency fails loudly at build time, not inside the
# streaming worker (same auditable-skip pattern as the Iceberg runtime
# adapter — tests skip when the dependency is absent).

TWS_STATE_STORE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def require_transform_with_state(spark: SparkSession) -> None:
    """Raise with the exact remediation if transformWithState cannot run."""
    import importlib.util

    # find_spec on a dotted name imports the parent package, which itself
    # raises when absent — treat either level as "not installed"
    try:
        have_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        have_protobuf = False
    if not have_protobuf:
        raise RuntimeError(
            "transformWithStateInPandas requires the `protobuf` Python package "
            "(the state-server protocol is protobuf-encoded); it is not "
            "installed in this environment"
        )
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", TWS_STATE_STORE_PROVIDER)


def user_type_census_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-user event census via ``transformWithStateInPandas``.

    Emits ``(user_id, total_events, n_types)`` per micro-batch from a
    ValueState total + MapState per-type counter. The batch oracle is
    ``COUNT(*)`` / ``COUNT(DISTINCT event_type)`` per user — the test
    pins drained-final == batch, same contract as every other job here."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _TypeCensus(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._total = handle.getValueState("total", "v bigint")
            self._per_type = handle.getMapState("per_type", "t string", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            total = self._total.get()[0] if self._total.exists() else 0
            for pdf in rows:
                total += len(pdf)
                for t, n in pdf.groupby("event_type").size().items():
                    prev = (
                        self._per_type.getValue((t,))[0]
                        if self._per_type.containsKey((t,))
                        else 0
                    )
                    self._per_type.updateValue((t,), (prev + int(n),))
            self._total.update((total,))
            n_types = sum(1 for _ in self._per_type.keys())
            yield pd.DataFrame(
                {"user_id": [key[0]], "total_events": [total], "n_types": [n_types]}
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_TypeCensus(),
            outputStructType="user_id bigint, total_events bigint, n_types bigint",
            outputMode="Update",
            timeMode="None",
        )
    )


def click_purchase_outer_join_stream(
    clicks: DataFrame, purchases: DataFrame, horizon: str = "1 hour", lateness: str = "1 hour"
) -> DataFrame:
    """LEFT OUTER watermarked interval join: every click, attributed to
    its purchases within ``horizon`` — or emitted with NULL purchase
    columns once the watermark PROVES no purchase can still arrive.

    The outer side is the semantically harder engine feature: an
    unmatched click cannot be emitted eagerly (a matching purchase may
    be in flight), so the engine holds it in state and releases the
    null-extended row only when the purchase watermark passes
    click_ts + horizon. Same derived-watermark rule as the inner job;
    same provable state expiry. Unmatched-click output therefore
    trails the data by the watermark delay — the test drains with a
    final empty batch to advance it."""
    delay_s = int(
        (pd.Timedelta(horizon) + pd.Timedelta(lateness)).total_seconds()
    )
    if delay_s <= 0:
        raise ValueError(f"horizon + lateness must be positive, got {horizon!r} + {lateness!r}")
    delay = f"{delay_s} seconds"
    c = (
        clicks.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", delay)
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", delay)
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
        "left_outer",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
    )


def write_stream_to_snapshot_table(
    stream_df: DataFrame,
    table,
    checkpoint_dir: str,
    ref: str = "main",
    stream_id: str | None = None,
):
    """Exactly-once streaming sink into a :class:`SnapshotTable`.

    foreachBatch gives at-least-once epoch delivery (a crash between
    the sink call and the checkpoint commit replays the epoch), so the
    sink is made idempotent at the TABLE: each epoch's append records
    ``{"epoch": N, "stream_id": ...}`` in its snapshot manifest, and a
    replayed epoch that finds its (stream, epoch) pair already
    committed is a no-op. The idempotence key MUST include the stream
    identity, not the bare epoch id: foreachBatch epoch ids restart at
    0 per checkpoint, so a second query (or a restart with a fresh
    checkpoint dir) against an already-populated table would otherwise
    find epochs 0..N "already committed" and silently drop its first
    batches. ``stream_id`` defaults to the absolute checkpoint path —
    exactly the namespace Spark scopes epoch ids to. Atomicity comes
    from the snapshot commit itself — a crash mid-append leaves staged
    files but no manifest, so readers never see the partial epoch and
    the replay re-stages cleanly. Same contract as
    ``write_stream_idempotent_parquet``, upgraded from directory-
    per-epoch to real table snapshots (time travel across epochs
    included).

    Interaction with snapshot expiry: the (stream, epoch) record lives
    in the manifests, so expiring a still-replayable epoch's manifest
    erases its idempotence record and a replay would duplicate it.
    Spark only ever replays the LAST unacknowledged epoch per
    checkpoint, so any retention that keeps the most recent commit per
    active stream is safe; expire aggressively only on quiesced
    streams.

    ``ref`` targets a branch — streaming write-audit-publish: epochs
    land on a staging branch while main serves readers the last
    published state; after validation, ``fast_forward("main", ref)``
    publishes every staged epoch as one metadata-only pointer move.
    Epoch idempotence keys on the shared snapshot log, so replays are
    no-ops regardless of which branch the epoch landed on."""
    import os as _os

    sid = stream_id if stream_id is not None else _os.path.abspath(checkpoint_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # index-served idempotence set: O(1) manifest reads per epoch —
        # a long-running stream at 100k commits no longer re-opens
        # 100k manifest files every micro-batch
        committed = table.committed_stream_epochs()
        if (sid, int(epoch_id)) in committed:
            return
        # legacy manifests (written before the key included the stream
        # identity) carry stream_id=None; a restart of THAT stream must
        # still detect its replayed epoch, so treat a legacy epoch as
        # this stream's own — conservative for upgrades (a brand-new
        # second stream against a legacy table should compact or start
        # a fresh table rather than rely on bare-epoch records). The
        # match is LOUD: if this is in fact a new stream, the skip
        # silently drops its batch, so the operator must be able to see
        # it happened.
        if (None, int(epoch_id)) in committed:
            import warnings

            warnings.warn(
                f"stream {sid!r}: epoch {int(epoch_id)} matched a LEGACY "
                "manifest record with no stream_id and was skipped as a "
                "replay. If this is a NEW stream writing into a table "
                "populated before stream-scoped epoch keys, this skip is "
                "DROPPING its batch — compact the table or start a fresh "
                "one before attaching a second stream.",
                stacklevel=2,
            )
            return
        table.append(
            batch_df, extra={"epoch": int(epoch_id), "stream_id": sid}, ref=ref
        )

    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def replicate_snapshot_table_stream(
    spark,
    source_path: str,
    replica,
    key_cols: list[str],
    checkpoint_dir: str,
):
    """CDC replication: tail ``source_path``'s changelog stream and
    apply each micro-batch's NET effect to ``replica`` — the lakehouse
    table-mirroring loop (Iceberg changelog → MERGE into the target),
    end to end inside the engine.

    Per epoch, the batch may span several source commits; the last
    action per key wins (ordered by ``_commit_snapshot_id``, the
    commit ordinal the CDC stream stamps on every row): a key deleted
    then re-inserted lands as its newest row, a key inserted then
    deleted is absent. The apply per epoch is ONE conditional MERGE
    commit — the Iceberg ``MERGE INTO target USING changelog`` shape::

        WHEN MATCHED AND s._change_type = 'delete' THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED AND s._change_type = 'insert' THEN INSERT *

    File-granular copy-on-write bounded by the epoch's key range; the
    epoch's idempotence marker rides on the merge commit itself, so a
    replayed epoch that finds its (stream, epoch) pair committed is a
    no-op and a crash mid-apply left no commit at all (the replay
    re-stages cleanly). Requires key-unique net rows per epoch — the
    window above guarantees it.

    Maintenance on the source is transparent: compaction/rewrites diff
    to empty in the changelog stream, so the replica simply sees no
    rows for them."""
    import os as _os

    from pyspark.sql import Window

    from ..sources.snapshot_stream import (
        SNAPSHOT_STREAM_NAME,
        register_snapshot_stream_source,
    )
    from ..sources.snapshots import MergeClause, merge_into

    register_snapshot_stream_source(spark)
    stream_id = _os.path.abspath(checkpoint_dir)

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        # index-served, O(1) manifest reads per epoch (see
        # write_stream_to_snapshot_table)
        if (stream_id, int(epoch_id)) in replica.committed_stream_epochs():
            return
        # last action per key wins; WITHIN one commit a delete+insert
        # pair (a rewrite commit's non-net emission of a carried or
        # updated row) nets to the insert — ranked explicitly so the
        # intent survives any future _change_type value or renaming
        w = Window.partitionBy(*key_cols).orderBy(
            F.col("_commit_snapshot_id").desc(),
            F.when(F.col("_change_type") == "insert", 1).otherwise(0).desc(),
        )
        last = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_commit_snapshot_id")
        )
        data_cols = [c for c in last.columns if c != "_change_type"]
        # merge_into applies ANY pending MOR delete state during its
        # touched-file read (sequence-aware equality deletes compose
        # with any key columns) — the apply never needs a compaction
        merge_into(
            replica,
            last,
            key_cols,
            [
                MergeClause("delete", "src__change_type = 'delete'"),
                MergeClause("update", None, {c: f"src_{c}" for c in data_cols}),
                MergeClause(
                    "insert",
                    "src__change_type = 'insert'",
                    {c: f"src_{c}" for c in data_cols},
                ),
            ],
            extra={"epoch": int(epoch_id), "stream_id": stream_id},
            check_unique=False,  # the last-action window guarantees it
        )

    return (
        spark.readStream.format(SNAPSHOT_STREAM_NAME)
        .option("path", source_path)
        .option("changelog", "true")
        .load()
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def publish_iceberg_metadata_stream(
    spark, source_path: str, checkpoint_dir: str
):
    """Continuous Iceberg metadata publication: tail ``source_path``'s
    commit stream and re-export the table's Iceberg-v2 metadata tree
    once per epoch — the pointer under ``<table>/metadata/iceberg/``
    then FOLLOWS the live table, so an external Iceberg reader polling
    ``vN.metadata.json`` (or a catalog registered on the directory)
    sees every published commit without the engine pushing anything.

    Cost per epoch is metadata-only: the batch DataFrame is never
    acted on (no rows are computed — the stream is just the commit
    signal), and the export itself reuses the previous tree verbatim
    when the head is unchanged (``reuse=True``), minting a new
    metadata version ONLY when a commit actually advanced the table
    (a version marks a table change, not a trigger firing). Exports
    carry pending MOR deletes as spec delete manifests; states the
    exporter refuses (unstamped legacy deletes, renamed unrewritten
    files) fail the stream loudly rather than publishing a wrong
    pointer.

    Ref coverage (write-audit-publish): the stream follows MAIN's
    commit signal, so commits STAGED on a branch publish nothing —
    deliberately: a staged branch lies outside main's exported chain
    and is honestly omitted from the pointer's refs rather than left
    dangling. The fast-forward that publishes the branch moves main,
    fires an epoch, and the minted version then carries the branch as
    an in-chain spec ref. Metadata-only ref changes (tag creation) do
    not fire an epoch either — there is no commit — but the export's
    reuse check compares the exported refs against the table's ref
    state, so the NEXT trigger (or any direct export) mints a version
    carrying the new ref instead of serving the stale doc. Pinned by
    tests/test_iceberg_import.py::test_publish_wap_cycle_and_ref_coverage."""
    from ..sources.iceberg_format import export_iceberg_metadata
    from ..sources.snapshot_stream import (
        SNAPSHOT_STREAM_NAME,
        register_snapshot_stream_source,
    )
    from ..sources.snapshots import SnapshotTable

    register_snapshot_stream_source(spark)
    table = SnapshotTable(spark, source_path)

    def publish(batch_df: DataFrame, epoch_id: int) -> None:
        # the batch is only the commit signal: no action ever runs on
        # it, so no data file is read for publication
        export_iceberg_metadata(table, reuse=True)

    return (
        spark.readStream.format(SNAPSHOT_STREAM_NAME)
        .option("path", source_path)
        .option("changelog", "true")
        .load()
        .writeStream.foreachBatch(publish)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
