"""Structured Streaming execution-path tests: file-arrival source,
availableNow incremental drain, watermarked windowed aggregation,
within-watermark dedup, session windows, parquet sink checkpointing.
Each asserts the streaming result equals the batch run of the same
expression (the oracle-gated twins in queries/streaming_battery.py).
"""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from orderly_spark.streaming import pipeline as SP

TMP = Path(__file__).parent / "tmp_stream"


@pytest.fixture(scope="module")
def events_dir(spark, sf_smoke):
    if TMP.exists():
        shutil.rmtree(TMP)
    d = TMP / "events"
    from orderly_spark.tables import load

    # two "drops" so availableNow sees multiple files
    e = load(spark, sf_smoke, "events")
    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(d), mode="append")
    e.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(d), mode="append")
    yield str(d)
    shutil.rmtree(TMP, ignore_errors=True)


def drain(spark, stream, mode="complete"):
    name = "t" + uuid.uuid4().hex[:10]
    SP.run_to_memory(stream, name, output_mode=mode)
    return spark.table(name)


def test_windowed_counts_stream_equals_batch(spark, events_dir):
    stream = SP.windowed_event_counts(SP.stream_events(spark, events_dir))
    got = {
        (r.window_start, r.event_type): r.n for r in drain(spark, stream).collect()
    }
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = {(r.w.start, r.event_type): r.n for r in batch.collect()}
    assert got == want and len(got) > 0


def test_session_windows_stream_equals_batch(spark, events_dir):
    stream = SP.sessionized_events(SP.stream_events(spark, events_dir))
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in drain(spark, stream).collect()
    }
    # batch twin: same expression on a batch frame (watermark is a
    # no-op in batch)
    batch = SP.sessionized_events(spark.read.parquet(events_dir))
    want = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_memory_sink_view_dropped_after_gate_query(spark, sf_smoke):
    """r9 hygiene: the streaming gate queries drop their memory-sink
    temp table once the result is checkpointed — a session running the
    whole battery no longer pins every streamed table in driver memory
    for its lifetime."""
    import orderly_spark.queries  # noqa: F401  (populates REGISTRY)
    from orderly_spark.registry import REGISTRY

    before = {t.name for t in spark.catalog.listTables()}
    out = REGISTRY["s_stream_static_enrich"].fn(spark, sf_smoke)
    assert out.count() > 0  # result survives the view drop (checkpointed)
    after = {t.name for t in spark.catalog.listTables()}
    leaked = {t for t in after - before if t.startswith("stream_static_")}
    assert not leaked


def test_streaming_dedup_within_watermark(spark, events_dir):
    from orderly_spark.schema import REACTION_SCHEMA

    d = TMP / "reactions"
    rows = []
    import datetime

    t0 = datetime.datetime(2023, 1, 1, 12, 0, 0)
    for i in range(20):
        rows.append(
            {
                "rxn_str": None,
                "reactants": [f"r{i % 5}"],  # 5 distinct keys, 4 dupes each
                "agents": ["g"],
                "reagents": [],
                "solvents": [],
                "catalysts": [],
                "products": ["p"],
                "yields": [None],
                "temperature": None,
                "rxn_time": None,
                "procedure_details": None,
                "date_of_experiment": t0 + datetime.timedelta(minutes=i),
                "grant_date": None,
                "is_mapped": False,
                "extracted_from_file": "f",
            }
        )
    spark.createDataFrame(rows, REACTION_SCHEMA).coalesce(1).write.parquet(
        str(d), mode="overwrite"
    )
    stream = SP.streaming_dedup_reactions(SP.stream_extracted_reactions(spark, str(d)))
    out = drain(spark, stream, mode="append")
    got = sorted(r.reactants[0] for r in out.collect())
    assert got == ["r0", "r1", "r2", "r3", "r4"]


def test_parquet_sink_with_checkpoint(spark, events_dir):
    out = TMP / "sink"
    ck = TMP / "ck"
    stream = SP.stream_events(spark, events_dir).filter(F.col("event_type") == "click")
    SP.run_to_parquet(stream, str(out), str(ck))
    n_stream = spark.read.parquet(str(out)).count()
    n_batch = spark.read.parquet(events_dir).filter(F.col("event_type") == "click").count()
    assert n_stream == n_batch > 0
    # re-running with the same checkpoint is a no-op (exactly-once)
    SP.run_to_parquet(stream, str(out), str(ck))
    assert spark.read.parquet(str(out)).count() == n_batch


def test_running_user_totals_stateful(spark, events_dir):
    """applyInPandasWithState: state carries across micro-batches; the
    final per-user totals equal the batch aggregate."""
    stream = SP.running_user_totals(SP.stream_events(spark, events_dir))
    name = "t" + uuid.uuid4().hex[:10]
    SP.run_to_memory(stream, name, output_mode="update")
    rows = spark.table(name).collect()
    # update mode: possibly several rows per user (one per batch);
    # the LAST emission per user holds the running total
    last = {}
    for r in rows:
        last[r.user_id] = (r.n_events, r.total_micro)
    batch = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * F.lit(1e6)).cast("long")
            ).alias("t"),
        )
    )
    # EXACT equality: both sides sum integer micro-units
    want = {r.user_id: (r.n, r.t) for r in batch.collect()}
    assert last == want


def test_outer_attribution_emits_expired_unmatched_only(spark, tmp_path):
    """left_outer stream-stream join on a literal fixture: a matched
    click emits eagerly; an unmatched click emits null-extended ONLY
    once the final watermark passes its horizon; an unmatched click
    inside the frontier stays buffered, unemitted."""
    rows = [
        # (event_id, ts, user_id, event_type, value, props)
        (1, "2024-01-01 00:00:00", 1, "click", 0.0, "{}"),      # matched
        (2, "2024-01-01 00:05:00", 1, "purchase", 9.0, "{}"),
        (3, "2024-01-01 01:00:00", 2, "click", 0.0, "{}"),      # unmatched, expired
        (4, "2024-01-01 23:00:00", 3, "click", 0.0, "{}"),      # unmatched, in frontier
        (5, "2024-01-01 23:30:00", 9, "purchase", 1.0, "{}"),   # advances watermark
    ]
    src = str(tmp_path / "drops")
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(src)

    ev = SP.stream_events(spark, src)
    joined = SP.stream_stream_attribution_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon="30 minutes",
        watermark="1 hour",
        join_type="left_outer",
    )
    got = {
        (r.user_id, r.click_id, r.purchase_id) for r in drain(spark, joined, "append").collect()
    }
    # watermark = min(max_click, max_purchase) - 1h = 22:00
    # click 3 expired (01:00 + 30min < 22:00) -> null row; click 4
    # (23:00) is inside the frontier -> buffered, NOT emitted
    assert got == {(1, 1, 2), (2, 3, None)}


def test_session_window_exact_gap_boundary(spark):
    """PINNED SEMANTICS (r13, ninth adversarial corpus): Spark's
    session_window MERGES an event landing EXACTLY at the previous
    session's end (adjacent windows coalesce: next_ts <= prev_end
    joins the session); only a strictly larger gap splits. The
    s_session_windows oracle used >= here — a real twin gap invisible
    on microsecond-noisy testdata, caught by sf_stream's exact-tie
    session runs and fixed to strict >."""
    import datetime as dt

    base = dt.datetime(1970, 1, 2)
    rows = [
        (1, base), (1, base + dt.timedelta(minutes=30)),             # exact tie: merge
        (2, base), (2, base + dt.timedelta(minutes=30, seconds=1)),  # over: split
        (3, base), (3, base + dt.timedelta(minutes=29, seconds=59)),  # under: merge
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = {
        (r.user_id, r.start): r.n
        for r in (
            df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count("*").alias("n"))
            .select("user_id", "w.start", "n")
            .collect()
        )
    }
    assert out == {
        (1, base): 2,
        (2, base): 1,
        (2, base + dt.timedelta(minutes=30, seconds=1)): 1,
        (3, base): 2,
    }


def test_outer_join_frontier_is_ms_conservative(spark, tmp_path):
    """PINNED ENGINE ENVELOPE (r13, ninth adversarial corpus): the
    stream-stream outer join's expiry frontier is MILLISECOND-granular
    and conservative — an unmatched click whose expiry (click_ts +
    horizon) sits 1µs inside the frontier is HELD, not emitted, while
    10ms inside emits; the exact tie is held (matches the oracles'
    strict <). sf_stream therefore places its frontier probes at
    ±10ms + the exact tie, never sub-ms. If a Spark upgrade changes
    the watermark granularity, this test moves and the corpus
    re-derives."""
    rows = [
        (1, "1970-01-04 12:00:00", 9000, "click", 0.0, "{}"),
        (2, "1970-01-04 13:00:00", 9000, "purchase", 1.0, "{}"),  # wm = 11:00
        (3, "1970-01-04 10:29:59.999999", 9001, "click", 0.0, "{}"),  # 1µs in: HELD
        (4, "1970-01-04 10:29:59.990000", 9002, "click", 0.0, "{}"),  # 10ms in: emits
        (5, "1970-01-04 10:30:00", 9003, "click", 0.0, "{}"),          # exact tie: HELD
    ]
    src = str(tmp_path / "frontier_drops")
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(src)
    ev = SP.stream_events(spark, src)
    joined = SP.stream_stream_attribution_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon="30 minutes",
        watermark="1 hour",
        join_type="left_outer",
    )
    got = sorted(
        (r.click_id, r.purchase_id) for r in drain(spark, joined, "append").collect()
    )
    assert got == [(4, None)]


def test_watermark_init_drops_at_or_pre_epoch_rows(spark):
    """PINNED ENGINE ENVELOPE (r11 adversarial-events sweep): Spark
    initializes the stateful-streaming event-time watermark at EPOCH 0,
    so rows with event time ≤ epoch microsecond 0 (ts ≤
    1970-01-01 00:00:00.000000) are late-by-birth — dropped by every
    watermarked stateful operator in the very first micro-batch, while
    sub-second rows AFTER microsecond 0 survive. Verified on the full
    adversarial corpus: the missing id set is exactly
    unix_micros(ts) <= 0 (270/270). This is why the events corpus
    ledgers s_stream_dedup_ingest and the two attribution joins as
    expected divergences (the batch oracles keep those rows). If a
    Spark upgrade changes the initialization, this test moves and the
    ledger gets re-derived."""
    d = TMP / "epoch_events"
    if d.exists():
        shutil.rmtree(d)
    rows = [
        (1, "1969-12-31 23:59:59", 1, "click", 0.0, "{}"),  # pre-epoch: dropped
        (2, "1970-01-01 00:00:00", 1, "click", 0.0, "{}"),  # at epoch: dropped
        (3, "1970-01-01 00:00:00.999999", 1, "click", 0.0, "{}"),  # µs>0: SURVIVES
        (4, "1970-01-01 00:00:01", 1, "click", 0.0, "{}"),
        (5, "1970-01-02 00:00:00", 2, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.parquet(str(d), mode="overwrite")
    stream = (
        SP.stream_events(spark, str(d))
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    out = drain(spark, stream, mode="append")
    got = sorted(r.event_id for r in out.collect())
    shutil.rmtree(d, ignore_errors=True)
    assert got == [3, 4, 5]


def test_latest_state_argmax_total_order_on_conflicting_writes(spark):
    """r14 (tenth corpus): the latest-state argmax is a TOTAL order —
    concurrent same-key writes (rows tying on user, ts AND event_id
    with different payloads) compact to ONE deterministic survivor
    (the max payload under the (ts, event_id, event_type, value) DESC
    order), identical however the log is split into batches. Under
    the old (ts, event_id)-only order the survivor was arbitrary,
    which also broke the streaming upsert's argmax-of-argmaxes
    associativity. Pins the batch kernel; the end-to-end streamed
    twin is gated by s_stream_upsert_compaction on /tmp/sf_lake."""
    from pyspark.sql import Window

    rows = [
        (10, "2024-01-05 12:00:00", 7, "click", 1.25, "{}"),
        (10, "2024-01-05 12:00:00", 7, "view", 2.50, "{}"),   # same id+ts
        (10, "2024-01-05 12:00:00", 7, "view", 99.0, "{}"),   # same id+ts+type
        (9, "2024-01-05 11:00:00", 7, "click", 5.0, "{}"),
        (20, "2024-01-05 12:00:00", 8, "signup", 0.0, "{}"),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id"),
        F.desc_nulls_last("event_type"), F.desc_nulls_last("value"),
    )
    top = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "value")
        .collect()
    )
    got = {r.user_id: (r.event_type, r.value) for r in top}
    # 'view' > 'click' lexicographically; among the two views, 99.0 wins
    assert got[7] == ("view", 99.0)
    assert got[8] == ("signup", 0.0)


@pytest.mark.parametrize("fail_on", ["get", "set"])
def test_state_conf_lock_released_when_enter_raises(fail_on):
    """A conf error inside ``_state_sized_shuffle.__enter__`` must
    release the module lock (``__exit__`` never runs when
    ``__enter__`` raises), or the next stream drain deadlocks."""

    class Conf:
        def __init__(self, broken):
            self.broken = broken
            self.values = {"spark.sql.shuffle.partitions": "8"}

        def get(self, key):
            if self.broken == "get":
                raise RuntimeError("conf get failed")
            return self.values[key]

        def set(self, key, value):
            if self.broken == "set":
                raise RuntimeError("conf set failed")
            self.values[key] = value

    class Session:
        def __init__(self, broken):
            self.conf = Conf(broken)

    def lock_leaked():
        leaked = not SP._STATE_CONF_LOCK.acquire(timeout=5)
        # also frees a leaked lock, so later drains fail here, not hang
        SP._STATE_CONF_LOCK.release()
        return leaked

    assert not lock_leaked()
    with pytest.raises(RuntimeError):
        with SP._state_sized_shuffle(Session(fail_on), 3):
            pass
    assert not lock_leaked(), "lock still held after a failed __enter__"
    ok = Session(None)
    with SP._state_sized_shuffle(ok, 3):
        assert ok.conf.values["spark.sql.shuffle.partitions"] == "3"
    assert ok.conf.values["spark.sql.shuffle.partitions"] == "8"


def test_stream_state_partitions_set_and_restored(spark, events_dir):
    """r15 (optimization round): streams started by run_to_memory run
    with the parameterised state-store partition count
    (SPARK_GRAFT_STREAM_STATE_PARTITIONS, default 8) — state
    partitioning is a stream-lifetime property sized to state volume,
    not inherited from the batch session — and the session's batch
    setting must be restored after the drain."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    seen = {}

    class Probe(SP._state_sized_shuffle):
        def __enter__(self):
            super().__enter__()
            seen["during"] = spark.conf.get("spark.sql.shuffle.partitions")

    orig = SP._state_sized_shuffle
    SP._state_sized_shuffle = Probe
    try:
        stream = SP.windowed_event_counts(SP.stream_events(spark, events_dir))
        out = drain(spark, stream, mode="complete")
        assert out.count() > 0
    finally:
        SP._state_sized_shuffle = orig
    assert seen["during"] == str(SP._stream_state_partitions())
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
