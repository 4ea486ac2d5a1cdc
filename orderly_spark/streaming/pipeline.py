"""Streaming ingestion & stateful operators.

The reference has no streaming (SURVEY §2.9); this module adds the
Spark-native incremental path the build plan calls for:

- file-arrival ingestion of new extracted-reaction drops (the
  reference's "rerun extract over the new ORD release" becomes a
  `readStream` + `trigger(availableNow)` incremental batch);
- event-time windowed aggregation with watermarking for late data;
- streaming dedup within a watermark (the streaming half of A6 —
  global historical dedup remains a periodic batch recompute, the
  documented limitation from SURVEY §2.9);
- session windows over event streams.

Every stateless clean operator (P2-P13 filters/transforms) composes
unchanged onto these streams — they are plain Column expressions.
Stateful globals (A3 frequency, J4 leakage split) are batch-side.

Scale notes: state size is bounded by the watermark horizon ×
key cardinality; watermarks below are parameters, not defaults to
trust blindly. Sinks use checkpointLocation for exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orderly_spark.registry import dsum

from orderly_spark.schema import REACTION_SCHEMA

EVENT_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def stream_extracted_reactions(spark: SparkSession, path: str) -> DataFrame:
    """File-arrival stream of extracted-reaction parquet drops: each
    new file under ``path`` becomes an incremental micro-batch.
    maxFilesPerTrigger bounds batch size so one giant drop (the 400k-
    reaction outlier file, main.py:36-38) cannot blow a micro-batch."""
    return (
        spark.readStream.schema(REACTION_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(path)
    )


def stream_events(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-arrival event stream; ``max_files_per_trigger`` bounds the
    micro-batch size (None = drain everything pending in one batch)."""
    r = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window counts with late-data tolerance =
    ``watermark``. In streaming mode state per (window, event_type)
    is dropped once the watermark passes; the same expression runs in
    batch (the oracle-gated twin s_windowed_event_counts)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def streaming_dedup_reactions(
    reactions: DataFrame, watermark: str = "24 hours"
) -> DataFrame:
    """A6's streaming half: drop duplicate reaction keys arriving
    within the watermark horizon. Uses event-time
    dropDuplicatesWithinWatermark so state is bounded; cross-horizon
    duplicates are caught by the periodic batch dedup (documented
    SURVEY §2.9 limitation).

    NULL ``date_of_experiment`` rows BYPASS the watermark dedup and
    pass through unchanged (review finding, r8: the previous
    current_timestamp() fallback stamped them with processing time,
    which advanced the watermark to ~now and silently dropped every
    historical-dated row in later micro-batches as late — and made
    the output wall-clock-dependent). Undated duplicates are caught
    by the same periodic batch dedup that handles cross-horizon ones;
    the stream stays deterministic and the watermark is driven only
    by real event time."""
    from orderly_spark.operators.cleaning import reaction_key

    keyed = reactions.withColumn(
        "__key", reaction_key(reactions, ["reactants", "agents", "reagents", "solvents", "catalysts", "products"])
    )
    dated = (
        keyed.filter(F.col("date_of_experiment").isNotNull())
        .withColumn("__ts", F.col("date_of_experiment"))
        .withWatermark("__ts", watermark)
        .dropDuplicatesWithinWatermark(["__key"])
        .drop("__key", "__ts")
    )
    undated = keyed.filter(F.col("date_of_experiment").isNull()).drop("__key")
    return dated.unionByName(undated)


def sessionized_events(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity. Streaming: session state merges as events arrive and
    emits on watermark close. Batch twin: s_session_windows (oracle
    via gaps-and-islands SQL)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def _stream_state_partitions() -> int:
    """Number of shuffle partitions — and therefore state-store
    instances per stateful operator — a stream STARTED BY THIS MODULE
    runs with (``SPARK_GRAFT_STREAM_STATE_PARTITIONS``, default 8).

    r15 (optimization round, guide §2.2): state partitioning is a
    STREAM-LIFETIME property — Spark pins it into the checkpoint at
    first start — so on a real deployment it is chosen deliberately
    for the state volume, never inherited from whatever width the
    batch session happens to use. Inheriting the session's
    ``spark.sql.shuffle.partitions`` (= local core count here) gave
    every stateful operator 32 state stores, each paying per-BATCH
    delta-file and commit I/O: measured on the stream-stream full
    outer join (2 stateful operators × multi-batch availableNow),
    8.7 s → 3.1 s wall by sizing stores to the bounded state these
    gates carry. Results are partition-independent (watermark, dedup,
    join and emission semantics do not read the partition count)."""
    import os

    try:
        return int(os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "") or 8)
    except ValueError:
        return 8


#: serialises the session-conf override window below: concurrent
#: drains (or a drain racing another drain's restore) could otherwise
#: interleave enter/exit and restore a wrong value (r16, ADVICE r15)
import threading as _threading

_STATE_CONF_LOCK = _threading.Lock()


class _state_sized_shuffle:
    """Set shuffle partitions for a stream start, restore after.

    The streaming engine clones the session conf at ``start()``; the
    original value is restored once the drain completes so batch
    queries in the same session are untouched.

    CONCURRENCY CONTRACT (r16, ADVICE r15): the override mutates the
    SESSION-global ``spark.sql.shuffle.partitions`` for the duration of
    the drain — a batch query planned on the same SparkSession from
    another thread DURING ``awaitTermination`` would silently inherit
    the reduced width. The module lock makes concurrent drains safe
    (they serialise, each seeing and restoring the true prior value),
    but concurrent batch planning is the caller's responsibility; scope
    a concurrent batch workload to its own ``spark.newSession()`` (own
    conf, shared context) if one ever appears."""

    def __init__(self, spark: SparkSession, state_partitions: int | None = None):
        self._conf = spark.conf
        self._n = state_partitions

    def __enter__(self):
        _STATE_CONF_LOCK.acquire()
        try:
            self._old = self._conf.get("spark.sql.shuffle.partitions")
            self._conf.set(
                "spark.sql.shuffle.partitions",
                str(self._n if self._n else _stream_state_partitions()),
            )
        except BaseException:
            # __exit__ does not run when __enter__ raises
            _STATE_CONF_LOCK.release()
            raise

    def __exit__(self, *exc):
        try:
            self._conf.set("spark.sql.shuffle.partitions", self._old)
        finally:
            _STATE_CONF_LOCK.release()


def run_to_memory(
    stream: DataFrame,
    name: str,
    output_mode: str = "append",
    state_partitions: int | None = None,
):
    """Drain a stream with trigger(availableNow) into an in-memory
    table (tests / smoke checks). Returns after completion.

    ``state_partitions`` overrides the env/default state-store count
    for THIS stream (r16: state sizing is per-operator — a gate whose
    state is a handful of keys wants fewer stores than one carrying
    every user_id; results are partition-independent either way)."""
    with _state_sized_shuffle(stream.sparkSession, state_partitions):
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def run_to_parquet(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
    state_partitions: int | None = None,
):
    """Production-shape sink: parquet + checkpoint for exactly-once
    file output; availableNow = incremental batch over all pending
    input then stop (the scheduled-ingest pattern). See run_to_memory
    for ``state_partitions``."""
    with _state_sized_shuffle(stream.sparkSession, state_partitions):
        q = (
            stream.writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", checkpoint)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def stream_stream_attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
    watermark: str = "2 hours",
    join_type: str = "inner",
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to the same
    user's clicks within ``horizon`` before it — the streaming form of
    the as-of/attribution join (batch twin: asof_purchase_after_click).

    Both sides are watermarked and the join condition carries an
    explicit event-time range, so Spark can bound the state store: a
    buffered click is dropped once the watermark passes click_ts +
    horizon (state is O(events within horizon × key cardinality),
    never unbounded). Equality on user_id keys the state store; the
    range predicate prunes within the key.

    ``join_type='left_outer'`` adds watermark-EXPIRY emission: a
    buffered click with no purchase inside its horizon is emitted
    null-extended once the global watermark (min over both inputs of
    max event time - delay) passes click_ts + horizon — no match can
    arrive after that, so the emission is final. Clicks still inside
    the final watermark frontier when the stream drains remain in
    state, unemitted: outer results are complete only up to the
    frontier, which is the documented Structured Streaming contract
    (and what the value oracle for the outer query reproduces).

    ``join_type='full_outer'`` adds the symmetric right-side expiry:
    an unmatched purchase emits null-extended once the watermark
    passes purchase_ts (the latest click that could still match it
    has click_ts = purchase_ts, so past that frontier the null
    verdict is final). The output key coalesces across sides, since
    either side may be the null-extended one."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
        join_type,
    ).select(
        # the CLICK side's key: identical to p_user on matched rows,
        # and the only non-NULL key on left_outer's null-extended rows;
        # full_outer null-extends EITHER side, so there the key
        # coalesces across them
        (
            F.coalesce(F.col("c_user"), F.col("p_user"))
            if join_type == "full_outer"
            else F.col("c_user")
        ).alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    RUNNING totals emitted every micro-batch — the shape Spark's
    built-in aggregations can't express incrementally in append-like
    flows (they re-emit whole groups in update/complete mode; this
    emits one delta row per user per batch with user-defined state).

    State per key: (n_events, total_micro) as a two-field struct. The
    total accumulates in INTEGER MICRO-UNITS — floor(value * 1e6) per
    element — so the running sum is order-independent and exactly
    reproducible by the batch twin's F.floor(value * 1e6) integer sum
    (review finding, r8: the previous float64 accumulation was an
    order-dependent double sum compared against a differently-ordered
    batch double sum under a 1e-6 tolerance — scale-dependent flake,
    simultaneously too loose and too tight). np.floor and F.floor are
    the same IEEE operation on the same double product, so the
    per-element micro values are bit-identical across engines.

    At scale: state is O(distinct users); pair with a state-store TTL
    (GroupStateTimeout) when the key space is unbounded — omitted here
    because the synthetic user ids are dense and finite.

    Also runs in BATCH mode (applyInPandas semantics: one group = one
    'batch'), which is how tests/test_streaming.py cross-checks it.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, total_micro bigint, batch_rows bigint"
    state_schema = "n bigint, total_micro bigint"

    def update(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        n, total_micro = state.get if state.exists else (0, 0)
        batch_rows = 0
        for pdf in pdfs:
            batch_rows += len(pdf)
            n += len(pdf)
            vals = pdf["value"].fillna(0.0).to_numpy(dtype="float64")
            total_micro += int(np.floor(vals * 1e6).astype("int64").sum())
        state.update((n, total_micro))
        yield pd.DataFrame(
            [{"user_id": key[0], "n_events": n, "total_micro": total_micro, "batch_rows": batch_rows}]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
